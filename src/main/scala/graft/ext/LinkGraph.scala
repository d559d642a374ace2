package graft.ext

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics for crawl curation — the authority signal
  * behind "crawl this domain more / weight this source higher".
  *
  * PageRank and HITS are the co-partitioned power iteration: the
  * adjacency is aggregated ONCE, hash-partitioned at the session's
  * shuffle-partition count and pinned, and every iterate is keyed by
  * node under the same partitioner. A step is then one narrow join of
  * the iterate against the adjacency (a per-partition hash lookup), one
  * keyed reduction of the messages (the step's only shuffle) and ONE
  * Spark job. That job pins the new iterate and returns the scalars the
  * next step needs (dangling mass, a squared L2 norm, the L1 step) as
  * per-partition partials: the driver sees O(partitions) numbers per
  * step, never a node- or edge-sized collect.
  *
  * Every sum — per-node messages, per-partition partials, their driver
  * merge — is exact ([[ExactSum]]), so results do not depend on how the
  * input is partitioned or in which order messages arrive. Fixed
  * iteration counts, not convergence tests: a bounded, reproducible
  * plan the oracle can unroll.
  *
  * Null endpoints: an edge with a null `src` or `dst` names no node and
  * is dropped before anything is weighted (as in [[triangleCounts]]),
  * so mass is conserved and no null node appears in an output.
  *
  * Pins: set-up RDDs are released before a run returns, an iterate as
  * soon as the step after it has materialised; only the returned
  * iterate stays pinned. During a run the cache holds the adjacency
  * (which is also the node table) and at most two iterates — plus, in
  * HITS, the raw authority vector between its two half-step jobs.
  */
object LinkGraph {

  /** A finished run with its diagnostics: per-iteration wall seconds
    * (each iteration is one job that materialises its iterate, so the
    * timings are real), and the L1 residual `Σ|r_k − r_{k−1}|` between
    * the last two iterates — the convergence evidence a fixed-iteration
    * plan owes its reader.
    */
  final case class PageRankRun(
      ranks: DataFrame,
      iterSeconds: Seq[Double],
      l1Residual: Double)

  /** PageRank over `(srcCol, dstCol)` edge rows (parallel edges =
    * weight). Output: `(node, rank)` — node typed as the input column.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      damping: Double = 0.85,
      iterations: Int = 10): DataFrame =
    pageRankRun(edges, srcCol, dstCol, damping, iterations).ranks

  /** [[pageRankRun]] warm-started from a previous run's `(node, rank)`
    * frame — the incremental-crawl shape: after an edge delta, ranks
    * re-converge from the old fixed point in a fraction of the
    * iterations a cold start needs (the teleport term makes the
    * iteration a contraction, so ANY init converges to the same fixed
    * point; a near-fixed-point init just starts closer). Nodes absent
    * from `init` (newly discovered pages) start at 1/n; the filled
    * vector is then renormalized to unit mass.
    */
  def pageRankWarmRun(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      init: DataFrame,
      damping: Double = 0.85,
      iterations: Int = 10): PageRankRun =
    pageRankRun(edges, srcCol, dstCol, damping, iterations, Some(init))

  /** One PageRank iterate entry: the node's rank, and whether it is
    * dangling (no out-edges), which decides where its mass goes.
    */
  private final case class Pr(rank: Double, dangling: Boolean)

  /** [[pageRank]] plus diagnostics. The standard damped, weighted,
    * dangling-aware form:
    * `r'(v) = (1−d)/N + d·( Σ_{u→v} r(u)·w(u,v)/outw(u) + mass_dangling/N )`
    * — parallel edges merge into weights, and a node with no out-links
    * redistributes its rank uniformly, so Σr = 1 after every iteration
    * (spec-pinned).
    *
    * Jobs: one to build the adjacency, two more for a warm start's
    * renormalization, then one per iteration.
    */
  def pageRankRun(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      damping: Double = 0.85,
      iterations: Int = 10,
      init: Option[DataFrame] = None): PageRankRun = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val (pairs, nodeType) = endpoints(edges, srcCol, dstCol)
    val part = partitioner(edges)
    val sc = pairs.sparkContext
    // every node, with the share w(u,v)/outw(u) of each distinct out-edge
    val graph = pin(pairs
      .flatMap { case (s, d) => Iterator((s, Some(d)), (d, None)) }
      .aggregateByKey(mutable.HashMap.empty[Any, Long], part)(
        (m, d) => { d.foreach(t => m(t) = m.getOrElse(t, 0L) + 1L); m },
        (a, b) => { b.foreach { case (t, w) => a(t) = a.getOrElse(t, 0L) + w }; a })
      .mapValues { m =>
        val outw = m.valuesIterator.sum.toDouble
        m.iterator.map { case (t, w) => (t, w / outw) }.toArray
      })
    try {
      val counts = sc.runJob(graph, (it: Iterator[(Any, Array[(Any, Double)])]) => {
        var nodes, dangling = 0L
        it.foreach { case (_, outs) => nodes += 1; if (outs.isEmpty) dangling += 1 }
        (nodes, dangling)
      })
      val n = counts.map(_._1).sum
      require(n > 0, "pageRank needs at least one edge")
      var (ranks, danglingMass) = init match {
        case None =>
          // the exact sum of m copies of 1/n is m·(1/n), rounded once
          (graph.mapValues(outs => Pr(1.0 / n, outs.isEmpty)),
            counts.map(_._2).sum * (1.0 / n))
        case Some(r) =>
          val carried = r
            .select(col("node").cast(nodeType).as("node"), col("rank").cast(DoubleType).as("rank"))
            .where(col("node").isNotNull && col("rank").isNotNull)
            .rdd.map(row => (row.get(0), row.getDouble(1)))
            .partitionBy(part)
          val filled = graph.zipPartitions(carried, preservesPartitioning = true) { (g, c) =>
            val r0 = hashed(c)
            g.map { case (v, outs) => (v, Pr(r0.getOrElse(v, 1.0 / n), outs.isEmpty)) }
          }
          // renormalize to unit mass: new/dropped nodes leave the carried
          // vector off-1, and the iteration only decays excess mass at
          // rate `damping` per step — an unnormalized warm start can sit
          // FARTHER from the fixed point than uniform for several
          // iterations (measured, not hypothetical)
          val mass = ExactSum.merged(
            sc.runJob(filled, (it: Iterator[(Any, Pr)]) => ExactSum.of(it.map(_._2.rank))))
          require(mass > 0, "warm-start init has no positive mass")
          val start = pin(filled.mapValues(p => p.copy(rank = p.rank / mass)))
          (start, ExactSum.merged(sc.runJob(start, (it: Iterator[(Any, Pr)]) =>
            ExactSum.of(it.collect { case (_, p) if p.dangling => p.rank }))))
      }
      val base = (1.0 - damping) / n
      var residual = Double.NaN
      val times = Vector.newBuilder[Double]
      for (_ <- 1 to iterations) {
        val t0 = System.nanoTime()
        val dm = danglingMass
        val contributions = summed(graph.zipPartitions(ranks) { (g, r) =>
          val rank = hashed(r)
          g.flatMap { case (u, outs) =>
            val ru = if (outs.isEmpty) 0.0 else rank(u).rank
            outs.iterator.map { case (v, share) => (v, ru * share) }
          }
        }, part)
        val next = pin(graph.zipPartitions(contributions, preservesPartitioning = true) { (g, cs) =>
          val c = hashed(cs)
          g.map { case (v, outs) =>
            val cv = c.get(v).fold(0.0)(_.value)
            (v, Pr(base + damping * (cv + dm / n), outs.isEmpty))
          }
        })
        // the step's one job: pins `next`, returns its dangling mass and
        // its L1 distance from `ranks` per partition
        val partials = sc.runJob(next.zipPartitions(ranks) { (nx, r) =>
          val before = hashed(r)
          val mass, step = new ExactSum
          nx.foreach { case (v, p) =>
            if (p.dangling) mass.add(p.rank)
            step.add(math.abs(p.rank - before(v).rank))
          }
          Iterator((mass, step))
        }, (it: Iterator[(ExactSum, ExactSum)]) => it.next())
        ranks.unpersist(blocking = false)
        ranks = next
        danglingMass = ExactSum.merged(partials.map(_._1))
        residual = ExactSum.merged(partials.map(_._2))
        times += (System.nanoTime() - t0) / 1e9
      }
      val rows = ranks.map { case (v, p) => Row(v, p.rank) }
      PageRankRun(frame(edges, rows, nodeType, "rank"), times.result(), residual)
    } finally graph.unpersist(blocking = false)
  }

  /** A finished HITS run: `(node, auth, hub)` scores plus the L1
    * residual `Σ|a_k − a_{k−1}|` of the authority vector — the same
    * convergence evidence [[PageRankRun]] carries.
    */
  final case class HitsRun(scores: DataFrame, l1Residual: Double)

  /** A node's distinct out- and in-neighbours (0/1 adjacency). */
  private final case class Adj(outs: Array[Any], ins: Array[Any])

  /** A HITS iterate entry: the normalized authority and the raw
    * (not yet normalized) hub score.
    */
  private final case class Hits(auth: Double, hub: Double)

  /** Kleinberg's HITS over `(srcCol, dstCol)` edge rows — hubs point at
    * good authorities, authorities are pointed at by good hubs. The
    * crawl-curation complement of PageRank: seed-list building wants
    * hubs (directories, link pages), content selection wants
    * authorities. Edges are DEDUPLICATED (the classic 0/1 adjacency);
    * parallel edges carry no extra weight.
    *
    * Per iteration: `a(v) = Σ_{u→v} h(u)`, L2-normalized; then
    * `h(u) = Σ_{u→v} a(v)`, L2-normalized — the power iteration on
    * AᵀA / AAᵀ. Nodes without in-edges hold auth 0, without out-edges
    * hub 0. Fixed `iterations` like [[pageRankRun]]; the residual says
    * how converged the run is (NaN after a single iteration).
    *
    * Jobs: one to build the adjacency, then one per half-step — each
    * half-step's norm must reach the driver before the next half-step
    * divides by it.
    */
  def hitsRun(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10): HitsRun = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (pairs, nodeType) = endpoints(edges, srcCol, dstCol)
    val part = partitioner(edges)
    val sc = pairs.sparkContext
    val graph = pin(pairs
      .flatMap { case (s, d) => Iterator((s, Left(d)), (d, Right(s))) }
      .aggregateByKey((mutable.HashSet.empty[Any], mutable.HashSet.empty[Any]), part)(
        (acc, e) => {
          e match {
            case Left(dst) => acc._1 += dst
            case Right(src) => acc._2 += src
          }
          acc
        },
        (a, b) => { a._1 ++= b._1; a._2 ++= b._2; a })
      .mapValues { case (outs, ins) => Adj(outs.toArray, ins.toArray) })
    try {
      require(graph.count() > 0, "hits needs at least one edge")
      def norm(sumOfSquares: Double): Double = {
        val l2 = math.sqrt(sumOfSquares)
        require(l2 > 0, "HITS norm collapsed to 0 — graph has no edges")
        l2
      }
      var scores: RDD[(Any, Hits)] = graph.mapValues(_ => Hits(0.0, 1.0))
      var hubNorm = 1.0
      var residual = Double.NaN
      for (k <- 1 to iterations) {
        val hn = hubNorm
        val authRaw = pin(summed(graph.zipPartitions(scores) { (g, s) =>
          val hub = hashed(s)
          g.flatMap { case (u, adj) =>
            val h = if (adj.outs.isEmpty) 0.0 else hub(u).hub / hn
            adj.outs.iterator.map(v => (v, h))
          }
        }, part).mapValues(_.value))
        val an = norm(ExactSum.merged(sc.runJob(authRaw,
          (it: Iterator[(Any, Double)]) => ExactSum.of(it.map { case (_, a) => a * a }))))
        val hubSums = summed(graph.zipPartitions(authRaw) { (g, a) =>
          val auth = hashed(a)
          g.flatMap { case (v, adj) =>
            val av = if (adj.ins.isEmpty) 0.0 else auth(v) / an
            adj.ins.iterator.map(u => (u, av))
          }
        }, part)
        val next = pin(graph.zipPartitions(authRaw, hubSums, preservesPartitioning = true) {
          (g, a, h) =>
            val auth = hashed(a)
            val hub = hashed(h)
            g.map { case (v, _) =>
              (v, Hits(auth.get(v).fold(0.0)(_ / an), hub.get(v).fold(0.0)(_.value)))
            }
        })
        // the hub half-step's job: pins `next`, returns Σh² and the
        // authority L1 step per partition
        val partials = sc.runJob(next.zipPartitions(scores) { (nx, s) =>
          val before = hashed(s)
          val squares, step = new ExactSum
          nx.foreach { case (v, x) =>
            squares.add(x.hub * x.hub)
            step.add(math.abs(x.auth - before(v).auth))
          }
          Iterator((squares, step))
        }, (it: Iterator[(ExactSum, ExactSum)]) => it.next())
        authRaw.unpersist(blocking = false)
        scores.unpersist(blocking = false)
        scores = next
        hubNorm = norm(ExactSum.merged(partials.map(_._1)))
        // the first iterate has no authority vector before it
        if (k > 1) residual = ExactSum.merged(partials.map(_._2))
      }
      val hn = hubNorm
      val rows = scores.map { case (v, x) => Row(v, x.auth, x.hub / hn) }
      HitsRun(frame(edges, rows, nodeType, "auth", "hub"), residual)
    } finally graph.unpersist(blocking = false)
  }

  /** [[hitsRun]]'s scores only. */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10): DataFrame =
    hitsRun(edges, srcCol, dstCol, iterations).scores

  /** The non-null `(src, dst)` pairs of `edges` as node values of one
    * type — the type a union of the two columns takes — and that type.
    * An edge with a null endpoint names no node and is dropped.
    */
  private def endpoints(edges: DataFrame, srcCol: String, dstCol: String)
      : (RDD[(Any, Any)], DataType) = {
    val nodeType = edges.select(col(srcCol)).union(edges.select(col(dstCol)))
      .schema.head.dataType
    val pairs = edges
      .select(col(srcCol).cast(nodeType).as("s"), col(dstCol).cast(nodeType).as("d"))
      .where(col("s").isNotNull && col("d").isNotNull)
      .rdd.map(row => (row.get(0), row.get(1)))
    (pairs, nodeType)
  }

  private def partitioner(edges: DataFrame): Partitioner =
    new HashPartitioner(edges.sparkSession.sessionState.conf.numShufflePartitions)

  private def pin[T](rdd: RDD[T]): RDD[T] = rdd.persist(StorageLevel.MEMORY_AND_DISK)

  private def hashed[V](it: Iterator[(Any, V)]): mutable.HashMap[Any, V] =
    mutable.HashMap.from(it)

  /** Exact per-key sums of `(key, value)` messages under `part`. */
  private def summed(msgs: RDD[(Any, Double)], part: Partitioner): RDD[(Any, ExactSum)] =
    msgs.combineByKey(
      (x: Double) => new ExactSum().add(x),
      (s: ExactSum, x: Double) => s.add(x),
      (a: ExactSum, b: ExactSum) => a.merge(b),
      part)

  /** `(node, <valueCols>…)` over `rows`, node typed as the input's. */
  private def frame(edges: DataFrame, rows: RDD[Row], nodeType: DataType,
      valueCols: String*): DataFrame =
    edges.sparkSession.createDataFrame(rows, StructType(
      StructField("node", nodeType, nullable = false) +:
        valueCols.map(StructField(_, DoubleType, nullable = false))))

  /** Per-node triangle membership over the UNDIRECTED simple graph of
    * `edges` (direction, self-loops, and parallel edges collapse
    * first) — the local clustering signal: link farms and mirror
    * clusters are triangle-dense, organically linked pages are not.
    *
    * The distributed node-iterator construction: canonicalize each
    * edge to `a < b`, enumerate each triangle exactly once as
    * `a < b < c` via two equi-joins (wedge `(a,b),(b,c)` closed by
    * `(a,c)`), then explode the three corners into a per-node count.
    * Every triangle is found at its smallest corner, so no dedup pass.
    * Nodes in no triangle are absent — left-join against the node set
    * downstream if zeros matter.
    *
    * Shape at scale: two shuffle equi-joins on node keys; the classic
    * refinement for skew (orient wedges at the LOWER-degree endpoint)
    * changes only which corner enumerates a triangle, not the counts,
    * and slots in by replacing the `a < b` canonical order with a
    * (degree, id) order.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint() // three join sides read it
    val tri = e.as("e1")
      .join(e.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
      .join(e.select(col("a"), col("b").as("c")).as("e3"), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }
}
