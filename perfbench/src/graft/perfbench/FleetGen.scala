package graft.perfbench

import java.sql.Timestamp

import scala.util.Random

import graft.model.{RegisterSnapshot, TagConfig}

/** A seeded PLC fleet: tag rows for `ConfigLoader`, the part catalog for
  * the state machine, and one `RegisterSnapshot` per live station per
  * tick. Stations are not clocked together: station j reads at offset
  * (j mod 10) × 100 ms into each second, so the snapshots arrive in ten
  * slots per tick. What the generator planted is returned beside the
  * data, so the self-test can recount it from the data alone. */
final case class Fleet(
    tags: Seq[TagConfig],
    knownParts: Map[(String, String), Long],
    multipliers: Map[String, Long],
    slots: IndexedSeq[Seq[RegisterSnapshot]],
    planted: FleetTruth) {
  /** When slot `i` is due, in ms after the first tick. */
  def slotDueMs(i: Int): Long = (i / FleetGen.SlotsPerTick) * 1000L + (i % FleetGen.SlotsPerTick) * 100L
  def ticks: Int = slots.length / FleetGen.SlotsPerTick
  def tick(t: Int): Seq[RegisterSnapshot] =
    slots.slice(t * FleetGen.SlotsPerTick, (t + 1) * FleetGen.SlotsPerTick).flatten
}

/** Planted structure: stations that stop sending at tick 1 or 2 (the
  * silence timeout must close their records), stations whose part word
  * holds `/`-alternatives, stations with a part missing from the
  * catalog (they feed `parts_not_found`), stations whose two sides run
  * the same part (their counters are summed). */
final case class FleetTruth(stations: Int, silentFrom: Map[String, Int],
    alternatives: Set[String], unknown: Set[String], sameSide: Set[String])

object FleetGen {
  val Sides = Seq("LH", "RH")
  private val CounterAddr = Map("LH" -> "D3100", "RH" -> "D3110")
  private val CycleAddr = Map("LH" -> "D3101", "RH" -> "D3111")
  private val PartAddr = Map("LH" -> 3200, "RH" -> 3210)
  val PartWords = 6
  val SlotsPerTick = 10
  private val ShiftChangeMs = java.time.Instant.parse("2024-03-05T16:00:00Z").toEpochMilli

  // The traffic mix. These are assumptions, not measurements: the
  // repository holds the register schema but no PLC trace, so each share
  // and range below is chosen to put rows on every sink and every
  // state-machine path. Replace them once a trace is in the repository.
  /** Stations whose LH part word holds `/`-alternatives. */
  val AlternativeShare = 0.10
  /** Stations whose RH side runs a part missing from the catalog. */
  val UnknownShare = 0.06
  /** Of the other stations, those whose two sides run the same part. */
  val SameSideShare = 0.5
  /** Stations that stop sending at tick 1 or 2. */
  val SilentShare = 0.05
  /** Press cycle time in seconds: a counter rises once per cycle. */
  val CycleSeconds: Range = 2 to 6

  /** Two chars per word, low byte first — the PLC string layout the
    * decode expression reads. */
  def words(s: String): Seq[Int] = {
    require(s.length <= 2 * PartWords, s"part string too long: $s")
    s.padTo(2 * PartWords, '\u0000').grouped(2).map(p => p(0).toInt + p(1).toInt * 256).toSeq
  }

  def station(j: Int): String = f"PRENSA$j%04d"

  /** `nTicks` ticks; event time crosses the 16:00 shift change at tick
    * `rolloverTick`. */
  def apply(seed: Long, stations: Int, nTicks: Int, rolloverTick: Int): Fleet = {
    val rng = new Random(seed)
    def code(prefix: Char) = f"$prefix${rng.nextInt(1000)}%03d"
    final case class SideSpec(part: String, cycleS: Int, phase: Int, base: Int)
    val silent = Map.newBuilder[String, Int]
    val alts, unknown, same = Set.newBuilder[String]
    val known = Map.newBuilder[(String, String), Long]
    val mult = Map.newBuilder[String, Long]
    val tags = Seq.newBuilder[TagConfig]
    val specs = (0 until stations).map { j =>
      val st = station(j)
      val ip = s"10.${j / 250}.${j % 250}.1"
      val kind = rng.nextDouble()
      val lh =
        if (kind < AlternativeShare) { alts += st; s"${code('K')}/${code('K')}" }
        else code('K')
      val rh =
        if (kind >= AlternativeShare && kind < AlternativeShare + UnknownShare) { unknown += st; code('U') }
        else if (rng.nextDouble() < SameSideShare) { same += st; lh }
        else Iterator.continually(code('K')).dropWhile(_ == lh).next()
      Seq(lh, rh).flatMap(_.split('/')).filter(_.startsWith("K")).foreach { p =>
        known += (st, p) -> (j.toLong * 10 + p.drop(1).toLong % 10)
        mult += p -> (1L + p.drop(1).toInt % 2)
      }
      if (rng.nextDouble() < SilentShare) silent += st -> (1 + rng.nextInt(2))
      tags += TagConfig(st, ip, "puerto", "5000", 1)
      Sides.foreach { side =>
        tags += TagConfig(st, ip, s"Contador $side", CounterAddr(side), 1)
        tags += TagConfig(st, ip, s"Tiempo Ciclo $side", CycleAddr(side), 1)
        tags += TagConfig(st, ip, s"Número de Parte $side", s"D${PartAddr(side)}", PartWords)
      }
      val sides = Seq(lh, rh).map { p =>
        val cycle = CycleSeconds.start + rng.nextInt(CycleSeconds.size)
        SideSpec(p, cycle, rng.nextInt(cycle), 100 + rng.nextInt(5000))
      }
      (st, ip, sides)
    }
    val silentFrom = silent.result()
    val tick0 = ShiftChangeMs - rolloverTick * 1000L
    val slots = for (t <- 0 until nTicks; slot <- 0 until SlotsPerTick) yield {
      val ts = new Timestamp(tick0 + t * 1000L)
      specs.zipWithIndex.collect {
        case ((st, ip, sides), j) if j % SlotsPerTick == slot && silentFrom.get(st).forall(t < _) =>
          val regs = Sides.zip(sides).flatMap { case (side, s) =>
            // a counter rises once per cycle, so only some rise per tick
            Seq(CounterAddr(side) -> (s.base + (t + s.phase) / s.cycleS),
              CycleAddr(side) -> (s.cycleS * 1000 + (t * 37 + s.base) % 200)) ++
              words(s.part).zipWithIndex.map { case (w, i) => s"D${PartAddr(side) + i}" -> w }
          }.toMap
          RegisterSnapshot(ip, ts, regs)
      }
    }
    Fleet(tags.result(), known.result(), mult.result(), slots,
      FleetTruth(stations, silentFrom, alts.result(), unknown.result(), same.result()))
  }
}
