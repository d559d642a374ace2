package graft.ext

/** An exact floating-point sum. The running total is kept as a short
  * list of non-overlapping partials (Shewchuk's algorithm, the one
  * behind Python's `math.fsum`), so [[value]] is the correctly rounded
  * sum of every finite double added, whatever the order of the `add`
  * and `merge` calls. That makes it a combiner whose result cannot
  * depend on how Spark partitions, orders or pre-aggregates its input.
  */
private[ext] final class ExactSum extends Serializable {
  // partials(0 until size): increasing magnitude, non-overlapping
  private var partials = new Array[Double](4)
  private var size = 0

  def add(x0: Double): this.type = {
    var x = x0
    var i = 0
    var j = 0
    while (j < size) {
      var y = partials(j)
      if (math.abs(x) < math.abs(y)) { val t = x; x = y; y = t }
      val hi = x + y
      val lo = y - (hi - x)
      if (lo != 0.0) { partials(i) = lo; i += 1 }
      x = hi
      j += 1
    }
    if (i == partials.length) partials = java.util.Arrays.copyOf(partials, 2 * i)
    partials(i) = x
    size = i + 1
    this
  }

  def merge(other: ExactSum): this.type = {
    var j = 0
    while (j < other.size) { add(other.partials(j)); j += 1 }
    this
  }

  /** The exact sum rounded to the nearest double, ties to even. */
  def value: Double = {
    if (size == 0) return 0.0
    var n = size - 1
    var hi = partials(n)
    var lo = 0.0
    var exact = true
    while (n > 0 && exact) {
      val x = hi
      n -= 1
      val y = partials(n)
      hi = x + y
      lo = y - (hi - x)
      exact = lo == 0.0
    }
    // hi + lo rounded half-to-even; the partials below decide a tie
    if (n > 0 && ((lo < 0.0 && partials(n - 1) < 0.0) ||
        (lo > 0.0 && partials(n - 1) > 0.0))) {
      val y = lo * 2.0
      val x = hi + y
      if (y == x - hi) hi = x
    }
    hi
  }
}

private[ext] object ExactSum {
  def of(xs: Iterator[Double]): ExactSum = {
    val s = new ExactSum
    xs.foreach(s.add)
    s
  }

  /** The per-partition partials a job returns, merged in partition order. */
  def merged(parts: Iterable[ExactSum]): Double =
    parts.foldLeft(new ExactSum)(_ merge _).value
}
