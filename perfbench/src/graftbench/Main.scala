package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** One benchmark run in its own JVM:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --result FILE --sf-dir DIR --queries FILE
  *
  * Writes the run's checks and metrics to `--result` (and, traced, its
  * spans next to it); the driving script turns that into the printed
  * line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      work = new File(need("work")),
      sfDir = kv.getOrElse("sf-dir", ""),
      queries = new File(kv.getOrElse("queries", "")))
    val result = new File(need("result"))
    val ctx = new Ctx(o, new Tracer(o.trace), new Outcome)
    // Exit explicitly either way: a thread Spark leaves behind must not
    // keep the JVM, and so the run, alive.
    try {
      o.workload match {
        case "trip_pipeline" => TripWorkload.run(ctx)
        case "registry_sf01" => RegistryWorkload.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      val spans = ctx.tracer.all
      Files.write(result.toPath, ctx.out.toJson(spans).getBytes(StandardCharsets.UTF_8))
      if (o.trace)
        Files.write(new File(result.getPath.stripSuffix(".json") + ".spans.json").toPath,
          Json.spans(spans).getBytes(StandardCharsets.UTF_8))
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }
}
