package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.stream.{EmbedIngest, IngestDedup, MediaIngest, MultimodalIngest}

/** Workload `ingest_search`, closed loop with one caller: two epochs of
  * a seeded multimodal corpus through `MultimodalIngest.ingestBatch`,
  * each followed by a burst of `MultimodalIngest.search` calls over the
  * cell files ingest has just written. Between the second epoch and its
  * burst, `MultimodalIngest.compact(upTo = 2)` folds both epochs of every
  * store into one, so the second burst reads the folded cells and the
  * second epoch probes the first one's corpus (`media_corpus`). Half of
  * the queries copy an admitted vector (it must come back at rank 1),
  * half are fresh vectors.
  *
  * Two epochs, because an epoch costs 15-30 s on 4 CPUs whatever its
  * size (130-180 Spark jobs, half or more single-task) and the whole
  * benchmark must fit its time budget; two is the fewest that gives the
  * fold work. */
object IngestSearch {
  val Epochs = 2
  val GroupsPerEpoch = 25
  val Cells = 8
  val NProbe = 4
  val K = 10
  /** `init` is cheap (~0.25 s) and its time is noisy: take the median of many. */
  private val SetUps = 7

  /** Search calls per run: 2.4 per second of `--seconds`, at least 24. */
  def searchCalls(seconds: Int): Int = math.max(24, seconds * 12 / 5)

  /** Epoch partitions left in each store that `compact` folds. */
  private val Folded = Seq("text/exact_idx", "text/band_idx", "embed/cells", "ledger", "media/media_idx")
  private def epochDirs(dir: String, store: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, store)
    if (!java.nio.file.Files.isDirectory(p)) Nil
    else {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("epoch=")).toSeq.sorted
      finally s.close()
    }
  }

  /** A search result is well formed when ranks run 1..n (n ≤ K) in
    * non-increasing cosine order and every neighbor is an admitted doc. */
  private def wellFormed(res: Seq[Row], admitted: Set[Long]): Boolean = {
    val byRank = res.sortBy(_.getInt(1))
    byRank.nonEmpty && byRank.length <= K &&
      byRank.map(_.getInt(1)) == (1 to byRank.length) &&
      byRank.forall(r => admitted(r.getLong(2))) &&
      byRank.map(_.getDouble(3)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val corpus = CorpusGen(ctx.seed, GroupsPerEpoch, Epochs)
    val cents = CorpusGen.centroids(ctx.seed, Cells).toDF("cid", "ce")
      .withColumn("cn", sqrt(GraftFunctions.vec_dot($"ce", $"ce")))
    def query(id: Long, v: Seq[Float]): DataFrame = Seq((id, v)).toDF("vec_id", "embedding")

    // ---- set-up, several times: pin the quantizer in a fresh store
    val setups = (1 to SetUps).map { i =>
      val dir = ctx.work.resolve(s"setup$i/store").toString
      val t0 = System.nanoTime()
      ctx.tracer.span("MultimodalIngest.init", "setup")(MultimodalIngest.init(spark, dir, cents))
      ((System.nanoTime() - t0) / 1e9, dir)
    }
    val dir = setups.last._2

    // ---- timed window
    val rng = new Random(ctx.seed ^ 0x9e3779b9L)
    val searchMs = Vector.newBuilder[Double]
    val epochMs = Vector.newBuilder[Double]
    val notes = Vector.newBuilder[String]
    var attempted, failed, copies, selfHits = 0L
    var filesWritten = 0
    ctx.errors.counting = true
    def epoch(e: Int): Unit = {
      attempted += 1
      val before = if (ctx.trace) DataFiles(dir) else Map.empty[String, (Long, Long)]
      val t0 = System.nanoTime()
      ctx.tracer.span("MultimodalIngest.ingestBatch", s"epoch:$e") {
        MultimodalIngest.ingestBatch(corpus.epoch(e).toDF(), dir, e)
      }
      epochMs += (System.nanoTime() - t0) / 1e6
      if (ctx.trace) filesWritten += DataFiles.written(before, DataFiles(dir))
    }
    /** Searches after `epochs` epochs: copies are drawn from the docs
      * admitted so far. */
    def burst(calls: Range, epochs: Int): Unit = {
      val admitted = corpus.admitted(epochs)
      val pool = admitted.toIndexedSeq.sorted
      for (call <- calls) {
        val source = if (call % 2 == 0) Some(pool(rng.nextInt(pool.length))) else None
        val v = source.map(id => corpus.docs(id.toInt).embedding)
          .getOrElse(Seq.fill(CorpusGen.Dim)(rng.nextGaussian().toFloat))
        attempted += 1
        try {
          if (ctx.plantFault && call == 3) throw new IllegalStateException("planted fault in search call 3")
          val t1 = System.nanoTime()
          val res = ctx.tracer.span("MultimodalIngest.search", s"search:$call") {
            MultimodalIngest.search(spark, dir, query(-1L - call, v), K, NProbe).collect().toSeq
          }
          val took = (System.nanoTime() - t1) / 1e6
          val hit = source.forall(id => res.exists(r => r.getInt(1) == 1 && r.getLong(2) == id))
          if (source.isDefined) { copies += 1; if (hit) selfHits += 1 }
          if (wellFormed(res, admitted) && hit) searchMs += took
          else { failed += 1; notes += s"MISMATCH search call $call: ${res.mkString(" ")}" }
        } catch {
          case t: Throwable => failed += 1; notes += s"search call $call failed: $t"
        }
      }
    }
    val calls = searchCalls(ctx.seconds)
    epoch(0)
    burst(0 until calls / 2, 1)
    epoch(1)
    attempted += 1
    val tc = System.nanoTime()
    ctx.tracer.span("MultimodalIngest.compact", "compact") {
      MultimodalIngest.compact(spark, dir, upTo = Epochs)
    }
    val compactMs = (System.nanoTime() - tc) / 1e6
    burst(calls / 2 until calls, Epochs)
    ctx.errors.counting = false
    val heapMb = Heap.liveMb()

    // ---- correctness: admitted ids and ledger reasons equal the planted
    // truth, and compaction left one epoch partition in every store
    val kept = MultimodalIngest.corpus(spark, dir).select("doc_id").as[Long].collect().toSet
    val reasons = MultimodalIngest.ledger(spark, dir).groupBy("reason").count()
      .as[(String, Long)].collect().toMap
    val unfolded = Folded.map(st => st -> epochDirs(dir, st)).filter(_._2 != Seq(s"epoch=${Epochs - 1}"))
    val gate = Seq(
      if (kept == corpus.admitted(Epochs)) None
      else Some(s"MISMATCH admitted: ${kept.size} docs, planted ${corpus.admitted(Epochs).size}"),
      if (reasons == corpus.reasons(Epochs)) None
      else Some(s"MISMATCH ledger: $reasons, planted ${corpus.reasons(Epochs)}"),
      if (unfolded.isEmpty) None
      else Some(s"MISMATCH compaction: epoch partitions left ${unfolded.mkString(", ")}"),
      if (copies > 0 && selfHits == copies) None
      else Some(s"MISMATCH self hits: $selfHits of $copies")).flatten
    val correct = gate.isEmpty && failed == 0

    val sMs = searchMs.result()
    val eMs = epochMs.result()
    val nDocs = corpus.docs.length
    val e2e = if (sMs.length < 11) Map.empty[String, M] else {
      val (tail, pct) = Stats.tail(sMs)
      notes += f"ingest_search: $Epochs epochs of ${GroupsPerEpoch * 6} docs, ${sMs.length} " +
        f"search calls; search tail = p$pct%.1f of ${sMs.length} calls"
      Map(
        "latency_p50_ms" -> M(Stats.median(sMs), "ms"),
        "latency_tail_ms" -> M(tail, "ms"),
        "throughput_per_s" -> M(nDocs / ((eMs.sum + compactMs) / 1000.0), "1/s"),
        "op_p50_ms" -> M(Stats.median(eMs), "ms"),
        "setup_s" -> M(Stats.median(setups.map(_._1)), "s"),
        "heap_live_mb" -> M(heapMb, "MB"))
    }
    val named = e2e.get("latency_p50_ms").fold(Map.empty[String, M])(_ => Map(
      "search.p50_ms" -> e2e("latency_p50_ms"),
      "search.tail_ms" -> e2e("latency_tail_ms"),
      "ingest.docs_per_s" -> e2e("throughput_per_s"),
      "ingest.epoch_ms" -> e2e("op_p50_ms"),
      "log.error_lines" -> M(ctx.errors.count.toDouble, "count")))
    val layers = if (!ctx.trace || !correct) Map.empty[String, M]
      else layerMetrics(ctx, corpus, cents, eMs, filesWritten, compactMs,
        kept.size, selfHits.toDouble / copies, dir, e2e)
    Outcome(correct, attempted, failed + (if (gate.isEmpty) 0 else 1), e2e, layers, named,
      notes.result() ++ gate)
  }

  private def layerMetrics(ctx: Ctx, corpus: Corpus, cents: DataFrame,
      epochMs: Seq[Double], filesWritten: Int, compactMs: Double, kept: Int,
      selfHitRate: Double, dir: String, e2e: Map[String, M]): Map[String, M] = {
    val spark = ctx.spark
    import spark.implicits._
    val jobLog = ctx.jobs.get
    def ops(prefix: String) = jobLog.byOp(_.startsWith(prefix))
    val epochJobs = ops("epoch:")
    val searchJobs = ops("search:")
    val epochSpans = ctx.tracer.named("MultimodalIngest.ingestBatch").filter(_.op.startsWith("epoch:"))
    val calls = ctx.tracer.named("MultimodalIngest.search").filter(_.op.startsWith("search:"))
    def perEpoch(f: Seq[JobRec] => Double) =
      Stats.mean(epochSpans.map(s => f(epochJobs.getOrElse(s.op, Nil))))
    def perCall(f: Seq[JobRec] => Double) =
      Stats.mean(calls.map(s => f(searchJobs.getOrElse(s.op, Nil))))
    val storeBytes = DataFiles(dir).values.map(_._1).sum

    // each single membrane on the same epochs, into its own store:
    // median ms per epoch
    def membraneMs(name: String)(ingest: Int => Unit): Double =
      Stats.median((0 until Epochs).map { e =>
        val t0 = System.nanoTime()
        ctx.tracer.span(name, s"$name:$e")(ingest(e))
        (System.nanoTime() - t0) / 1e6
      })
    val textDir = ctx.work.resolve("single/text").toString
    val mediaDir = ctx.work.resolve("single/media").toString
    val embedDir = ctx.work.resolve("single/embed").toString
    val textMs = membraneMs("IngestDedup.ingestBatch")(e =>
      IngestDedup.ingestBatch(corpus.epoch(e).toDF().select("doc_id", "text"), textDir, e))
    val mediaMs = membraneMs("MediaIngest.ingestBatch")(e =>
      MediaIngest.ingestBatch(corpus.epoch(e).toDF().select("doc_id", "media"), mediaDir, e))
    EmbedIngest.init(spark, embedDir, cents)
    val embedMs = membraneMs("EmbedIngest.ingestBatch")(e =>
      EmbedIngest.ingestBatch(corpus.epoch(e).toDF()
        .select($"doc_id".as("vec_id"), $"embedding"), embedDir, e))

    // graft.functions over this workload's own documents
    val docs = corpus.docs.toDF()
    val withCells = docs.crossJoin(cents.agg(sort_array(collect_list(struct($"cid", $"ce", $"cn"))).as("cs")))
      .withColumn("nrm", sqrt(GraftFunctions.vec_dot($"embedding", $"embedding")))
    val fn = Map(
      "fn.minhash_sigs.ns_per_row" -> FnProbe.nsPerRow(ctx, docs, GraftFunctions.minhash_sigs($"text")),
      "fn.band_keys.ns_per_row" -> FnProbe.nsPerRow(ctx, docs, GraftFunctions.band_keys($"text")),
      "fn.phash_blocks.ns_per_row" -> FnProbe.nsPerRow(ctx, docs, GraftFunctions.phash_blocks($"media", 32)),
      "fn.vec_dot.ns_per_row" -> FnProbe.nsPerRow(ctx, docs,
        GraftFunctions.vec_dot($"embedding", $"embedding")),
      "fn.nearest_cells.ns_per_row" -> FnProbe.nsPerRow(ctx, withCells,
        GraftFunctions.nearest_cells($"cs", $"embedding", $"nrm", NProbe)))

    Layers.zeros ++ fn.map { case (k, v) => k -> M(v, "ns") } ++ Map(
      "ingest.epoch_ms" -> M(Stats.median(epochMs), "ms"),
      "ingest.jobs_per_epoch" -> M(perEpoch(_.length), "count"),
      "ingest.single_task_jobs_per_epoch" -> M(perEpoch(_.count(_.tasks == 1)), "count"),
      "ingest.tasks_per_epoch" -> M(perEpoch(_.map(_.tasks).sum), "count"),
      "ingest.shuffle_bytes_per_epoch" -> M(perEpoch(_.map(_.shuffleBytes).sum.toDouble), "B"),
      "ingest.driver_gap_ms_per_epoch" -> M(Stats.mean(epochSpans.map(s =>
        JobLog.gapMs(s.startMs, s.endMs, epochJobs.getOrElse(s.op, Nil)).toDouble)), "ms"),
      "ingest.files_written_per_epoch" -> M(filesWritten.toDouble / Epochs, "count"),
      "ingest.store_bytes_per_admitted_doc" -> M(storeBytes.toDouble / kept, "B"),
      "ingest.admit_ratio" -> M(kept.toDouble / corpus.docs.length, "ratio"),
      "ingest.compact_ms" -> M(compactMs, "ms"),
      "ingest.text_ms" -> M(textMs, "ms"),
      "ingest.media_ms" -> M(mediaMs, "ms"),
      "ingest.embed_ms" -> M(embedMs, "ms"),
      "search.jobs_per_call" -> M(perCall(_.length), "count"),
      "search.tasks_per_call" -> M(perCall(_.map(_.tasks).sum), "count"),
      "search.bytes_read_per_call" -> M(perCall(_.map(_.inputBytes).sum.toDouble), "B"),
      "search.self_hit_rate" -> M(selfHitRate, "ratio"),
      "log.error_lines" -> M(ctx.errors.count.toDouble, "count"),
      "trace.callback_ms" -> M(jobLog.callbackMs, "ms")) ++
      e2e.collect { case (k, m) if k != "setup_s" => s"traced.$k" -> m }
  }
}
