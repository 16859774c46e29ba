package graft.perfbench

/** Checks the generators without Spark: the same seed gives identical
  * inputs, another seed gives other inputs, and every planted count the
  * generator claims is recounted from the generated data alone. Prints
  * one line per failed check and exits non-zero if any failed.
  *
  *     java -cp <classpath> graft.perfbench.SelfTest
  */
object SelfTest {
  private var failures = 0
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += 1; println(s"FAIL $what") }

  private def decode(words: Seq[Int]): String =
    words.flatMap(w => Seq(Math.floorMod(w, 256), Math.floorMod(w / 256, 256)))
      .filter(_ != 0).map(_.toChar).mkString

  def fleet(seed: Long): Unit = {
    val nTicks = 20
    val f = FleetGen(seed, 200, nTicks, nTicks / 2)
    val g = FleetGen(seed, 200, nTicks, nTicks / 2)
    check(f == g, s"fleet seed $seed: same seed, different inputs")
    check(f.slots != FleetGen(seed + 1, 200, nTicks, nTicks / 2).slots, s"fleet seed $seed: seed ignored")
    val ipOf = f.tags.map(t => t.workCenter -> t.ip).toMap
    val parts = f.tick(0).map { s =>
      def side(base: Int) = decode((0 until FleetGen.PartWords).map(i => s.regs(s"D${base + i}")))
      s.ip -> (side(3200), side(3210))
    }.toMap
    val p = f.planted
    val stations = ipOf.keySet
    check(stations.size == p.stations && parts.size == p.stations,
      s"fleet seed $seed: ${parts.size} stations at tick 0, planted ${p.stations}")
    val lastTick = f.tick(nTicks - 1).map(_.ip).toSet
    check(stations.filterNot(st => lastTick(ipOf(st))) == p.silentFrom.keySet,
      s"fleet seed $seed: silent stations differ from the planted ones")
    p.silentFrom.foreach { case (st, t) =>
      check(f.tick(t - 1).exists(_.ip == ipOf(st)) && !f.tick(t).exists(_.ip == ipOf(st)),
        s"fleet seed $seed: $st does not fall silent at tick $t") }
    check(p.silentFrom.nonEmpty && p.alternatives.nonEmpty && p.unknown.nonEmpty && p.sameSide.nonEmpty,
      s"fleet seed $seed: a planted class is empty")
    check(stations.filter(st => parts(ipOf(st))._1.contains('/')) == p.alternatives,
      s"fleet seed $seed: alternative part words differ from the planted ones")
    check(stations.filter { st =>
      val (lh, rh) = parts(ipOf(st))
      (lh.split('/') ++ rh.split('/')).exists(x => !f.knownParts.contains((st, x)))
    } == p.unknown, s"fleet seed $seed: unknown parts differ from the planted ones")
    check(stations.filter { st => val (lh, rh) = parts(ipOf(st)); lh == rh } == p.sameSide,
      s"fleet seed $seed: same-part sides differ from the planted ones")
    val ts = (0 until nTicks).map(t => f.tick(t).head.ts.getTime)
    check(ts.head < java.time.Instant.parse("2024-03-05T16:00:00Z").toEpochMilli &&
      ts.last >= java.time.Instant.parse("2024-03-05T16:00:00Z").toEpochMilli,
      s"fleet seed $seed: the run does not cross the 16:00 shift change")
    val rises = (1 until nTicks).map { t =>
      val prev = f.tick(t - 1).map(s => s.ip -> s.regs("D3100")).toMap
      f.tick(t).count(s => prev.get(s.ip).exists(_ < s.regs("D3100"))).toDouble / f.tick(t).length
    }
    check(rises.forall(r => r > 0 && r < 1), s"fleet seed $seed: counters rise all together or never")
  }

  def corpus(seed: Long): Unit = {
    val epochs = 4
    val c = CorpusGen(seed, 20, epochs)
    check(c == CorpusGen(seed, 20, epochs), s"corpus seed $seed: same seed, different inputs")
    check(c.docs != CorpusGen(seed + 1, 20, epochs).docs, s"corpus seed $seed: seed ignored")
    val docs = c.docs
    val g = 20L * epochs
    def pairs(p: (Doc, Doc) => Boolean) =
      docs.grouped(6).map(grp => grp.tail.count(d => p(grp.head, d))).sum
    check(pairs(_.text == _.text) == g, s"corpus seed $seed: exact-text duplicates != $g")
    check(pairs((a, b) => a.text != b.text && a.text.take(120) == b.text.take(120)) == g,
      s"corpus seed $seed: near-text duplicates != $g")
    check(pairs((a, b) => a.text != b.text && a.embedding == b.embedding) == g,
      s"corpus seed $seed: embedding duplicates != $g")
    check(docs.count(_.media.length >= 32) == g, s"corpus seed $seed: media payloads != $g")
    check(docs.map(_.text).distinct.length == docs.length - g,
      s"corpus seed $seed: texts collide outside the planted duplicates")
    val reasons = c.reasons(epochs)
    check(reasons.values.sum + c.admitted(epochs).size == docs.length,
      s"corpus seed $seed: planted reasons + admitted != ${docs.length}")
    check(c.admitted(epochs).size == 2 * g + 1, s"corpus seed $seed: admitted != ${2 * g + 1}")
  }

  def stats(): Unit = {
    val xs = (1 to 40).map(_.toDouble)
    check(Stats.tail(xs) == ((30.0, 75.0)), s"tail of 1..40 is ${Stats.tail(xs)}")
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")
  }

  def main(args: Array[String]): Unit = {
    Seq(1L, 2L, 3L, 17L, 12345L).foreach { s => fleet(s); corpus(s) }
    stats()
    println(if (failures == 0) "selftest ok" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
