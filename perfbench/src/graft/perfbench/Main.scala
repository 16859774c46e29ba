package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything one workload run needs. `trace` selects the traced run:
  * the job listener, per-call file listings and layer probes are only
  * active there, so the end-to-end numbers are measured without them. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val plantFault: Boolean, val work: Path, val cpus: Int) {
  val tracer = new Tracer(spark.sparkContext)
  val jobs: Option[JobLog] =
    if (trace) { val l = new JobLog; spark.sparkContext.addSparkListener(l); Some(l) } else None
  val errors: ErrorLines = ErrorLines.install()

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

/** What a workload reports. `e2e` and `layers` are keyed by the names in
  * BENCHMARK.json; `named` holds the same quantities under the
  * workload-specific names the benchmark doc uses (printed, not parsed). */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, M], layers: Map[String, M], named: Map[String, M],
    notes: Seq[String])

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "plc_fleet" -> (PlcFleet.run _),
    "ingest_search" -> (IngestSearch.run _))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    val trace = opts.getOrElse("trace", "0") == "1"
    val plantFault = opts.getOrElse("plant-fault", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, seed, seconds, trace, plantFault, work, cpus)

    val out = try Workloads(workload)(ctx) catch {
      case t: Throwable =>
        t.printStackTrace()
        Outcome(correct = false, attempted = 1, failed = 1, Map.empty, Map.empty, Map.empty,
          Seq(s"run aborted: $t"))
    }
    if (trace) {
      ctx.tracer.writeJsonl(work.resolve("spans.jsonl"))
      System.err.println(f"%n-- per-layer ($workload, seed $seed) --")
      out.layers.toSeq.sortBy(_._1).foreach { case (k, m) =>
        System.err.println(f"  $k%-40s ${Json.num(m.value)}%14s ${m.unit}") }
    }
    out.notes.foreach(n => System.err.println(s"note: $n"))
    val ok = out.correct && out.failed == 0
    val metrics = if (!ok && out.e2e.isEmpty) Map.empty[String, M]
      else if (trace) out.layers else out.e2e
    def obj(ms: Map[String, M]) = ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s"""${Json.str(k)}: {"value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}"""
    }.mkString("{", ", ", "}")
    println(s"""{"workload": ${Json.str(workload)}, "named": ${obj(out.named)}}""")
    println(s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": ${obj(metrics)}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
