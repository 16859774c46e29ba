package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}

/** The per-layer metrics of the traced run. Every traced run reports all
  * of them; a layer the workload bypasses reads 0 there. */
object Layers {
  private val fn = Seq("decode_plc_words", "minhash_sigs", "band_keys", "phash_blocks",
    "vec_dot", "nearest_cells").map(f => s"fn.$f.ns_per_row" -> "ns")
  private val plc = Seq(
    "batch_ms" -> "ms", "plan_ms" -> "ms", "log_commit_ms" -> "ms", "sink_ms" -> "ms",
    "state_update_ms" -> "ms", "state_commit_ms" -> "ms", "state_rows" -> "count",
    "state_bytes" -> "B", "rows_per_batch" -> "count", "ticks_per_batch" -> "count",
    "jobs_per_batch" -> "count", "single_task_jobs_per_batch" -> "count",
    "tasks_per_batch" -> "count", "shuffle_bytes_per_batch" -> "B",
    "driver_gap_ms_per_batch" -> "ms", "files_written_per_batch" -> "count",
    "write_amp" -> "ratio", "gen_late_ms" -> "ms").map { case (k, u) => s"plc.$k" -> u }
  private val ingest = Seq(
    "epoch_ms" -> "ms", "jobs_per_epoch" -> "count", "single_task_jobs_per_epoch" -> "count",
    "tasks_per_epoch" -> "count", "driver_gap_ms_per_epoch" -> "ms",
    "shuffle_bytes_per_epoch" -> "B", "files_written_per_epoch" -> "count",
    "store_bytes_per_admitted_doc" -> "B", "admit_ratio" -> "ratio", "compact_ms" -> "ms",
    "text_ms" -> "ms", "media_ms" -> "ms", "embed_ms" -> "ms").map { case (k, u) => s"ingest.$k" -> u }
  private val search = Seq("jobs_per_call" -> "count", "tasks_per_call" -> "count",
    "bytes_read_per_call" -> "B", "self_hit_rate" -> "ratio").map { case (k, u) => s"search.$k" -> u }
  private val traced = Seq("latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s", "op_p50_ms" -> "ms", "heap_live_mb" -> "MB")
    .map { case (k, u) => s"traced.$k" -> u }

  val units: Seq[(String, String)] = fn ++ plc ++ ingest ++ search ++
    Seq("log.error_lines" -> "count", "trace.callback_ms" -> "ms") ++ traced

  def zeros: Map[String, M] = units.map { case (k, u) => k -> M(0.0, u) }.toMap
}

/** Data files under a directory, with (size, mtime); checksum and
  * marker files are left out. Diffing two listings counts the files a
  * call wrote. */
object DataFiles {
  def apply(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally s.close()
    }
  }

  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Int =
    after.count { case (f, v) => !before.get(f).contains(v) }
}

/** ns per row of one graft expression over a workload's own inputs,
  * replicated to ~100k cached rows; the full plan runs into the no-op
  * sink. For the costly expressions (the text hashes, ~10 µs a row) the
  * per-row cost dominates the job's fixed cost; for the cheapest ones
  * (`vec_dot`) the fixed cost is a sizeable part of the figure. */
object FnProbe {
  private val TargetRows = 100000L
  private val Reps = 3

  def nsPerRow(ctx: Ctx, input: DataFrame, fn: Column): Double = {
    val copies = math.max(1L, TargetRows / math.max(1L, input.count()))
    val data = input.crossJoin(ctx.spark.range(copies).toDF("__copy")).drop("__copy")
      .repartition(ctx.cpus).cache()
    val rows = data.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      data.select(fn.as("v")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    once()
    val ns = Stats.median((1 to Reps).map(_ => once()))
    data.unpersist()
    ns / rows
  }
}
