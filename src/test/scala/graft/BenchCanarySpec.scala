package graft

import org.scalatest.funsuite.AnyFunSuite

/** The canary's committed-level resolution (Bench.resolveCommitted):
  * lineage-derived > local[32] bootstrap constant > off. The
  * derived level is the MINIMUM of the last N window medians at the
  * same core count (r14 review): a median-of-calm scheme ratchets
  * upward under sustained sub-threshold drift and can be poisoned by
  * a hot flag-off bootstrap window; the min is immune to both — a hot
  * window can never raise it, and one calm window anywhere in the
  * last N pins it at calm.
  */
class BenchCanarySpec extends AnyFunSuite {

  private def tmpLineage(lines: String*): java.nio.file.Path = {
    val p = TestSpark.tempFile("canary_lineage", ".jsonl")
    java.nio.file.Files.write(p,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p
  }

  /** Every resolution call below pins the heap key to the build
    * default (r16 What's-wrong #1: the resolvers read the REAL JVM
    * heap and `SPARK_DRIVER_MEM` at call time, so the whole suite went
    * red under the driver's ~89 GiB fork heap — the synthetic lineage
    * lines carry no `heap_mb` and became invisible). The heap is now
    * dependency-injected; these wrappers make the suite's verdicts
    * independent of the heap the fork actually runs at, and the
    * "simulated non-default heap" tests at the bottom pin the OTHER
    * value to prove the production behavior without exporting env.
    */
  private val DefaultHeapMb = 7936L

  private def resolveCommitted(cpus: String, lineage: java.nio.file.Path)
      : (Option[Double], String) =
    Bench.resolveCommitted(cpus, lineage,
      currentHeapMb = DefaultHeapMb, currentIsDefault = true)

  private def resolveCommittedIo(cpus: String, lineage: java.nio.file.Path)
      : (Option[Double], String) =
    Bench.resolveCommittedIo(cpus, lineage,
      currentHeapMb = DefaultHeapMb, currentIsDefault = true)

  private def resolveQueryFloors(cpus: String, lineage: java.nio.file.Path)
      : (Map[String, Double], Int, String) =
    Bench.resolveQueryFloors(cpus, lineage,
      currentHeapMb = DefaultHeapMb, currentIsDefault = true)

  private def heapMatches(line: String, currentHeapMb: Long,
      currentIsDefault: Boolean): Boolean =
    Bench.heapMatches(Json.parse(line).get, currentHeapMb, currentIsDefault)

  private def entry(cpus: Int, median: Double,
      inflated: Option[Boolean]): String = inflated match {
    case Some(b) =>
      s"""{"cpus":$cpus,"median":$median,"committed":0.57,"ratio":1.0,"inflated":$b,"provenance":"default"}"""
    case None =>
      s"""{"cpus":$cpus,"median":$median,"committed":null,"ratio":null,"inflated":null,"provenance":"off"}"""
  }

  test("the derived level is the min of the recent windows at this core count") {
    val lineage = tmpLineage(
      entry(32, 0.50, Some(false)),
      entry(32, 0.60, Some(false)),
      entry(32, 0.55, Some(false)))
    assert(resolveCommitted("32", lineage) ==
      (Some(0.50), "derived"))
  }

  test("sustained sub-threshold drift cannot ratchet the level (the live r14 sequence)") {
    // the literal sequence the median-of-calm scheme compounded on:
    // bootstrap 0.57 -> window 0.600 (1.05x, calm) -> window 0.710
    // (1.18x vs the drifted level, calm) — the level must stay pinned
    // at the calmest recent window, not follow the drift
    val lineage = tmpLineage(
      entry(32, 0.600, Some(false)),
      entry(32, 0.710, Some(false)))
    assert(resolveCommitted("32", lineage) ==
      (Some(0.600), "derived"),
      "the drifted window must not become the new calm level")
  }

  test("only the last N windows enter; older history ages out") {
    // five old fast windows, then five newer slow ones: a genuine
    // hardware slowdown converges once the fast minima age out
    val lineage = tmpLineage(
      (Seq.fill(5)(0.30) ++ Seq.fill(5)(0.60))
        .map(m => entry(32, m, Some(false))): _*)
    assert(resolveCommitted("32", lineage) ==
      (Some(0.60), "derived"))
  }

  test("a hot window can never raise the level") {
    val lineage = tmpLineage(
      entry(32, 0.50, Some(false)),
      entry(32, 2.50, Some(true)), // a flagged-hot window is harmless under min
      entry(32, 0.52, Some(false)))
    assert(resolveCommitted("32", lineage) ==
      (Some(0.50), "derived"))
  }

  test("flag-off windows seed the level (non-32-core self-bootstrap)") {
    val lineage = tmpLineage(entry(4, 3.30, None), entry(4, 3.10, None))
    assert(resolveCommitted("4", lineage) ==
      (Some(3.10), "derived"),
      "runs 1/2 seeded the lineage with the flag off; run 3 must derive")
  }

  test("a hot flag-off bootstrap window is displaced by the first calm one") {
    // the poisoned-seed scenario: run 1 on new hardware lands under
    // co-tenant load (median 6.0, flag off), run 2 is calm (3.1) —
    // the min takes the calm window, so the poison never sticks
    val lineage = tmpLineage(entry(4, 6.00, None), entry(4, 3.10, None))
    assert(resolveCommitted("4", lineage) ==
      (Some(3.10), "derived"))
  }

  test("other core counts' entries are invisible") {
    val lineage = tmpLineage(entry(4, 3.10, None))
    assert(resolveCommitted("32", lineage) ==
      (Some(0.57), "default"), "local[32] falls back to the bootstrap constant")
    assert(resolveCommitted("8", lineage) == (None, "off"),
      "off the reference count with no lineage at it, the flag stays off")
  }

  test("a missing lineage file resolves like an empty one") {
    val p = java.nio.file.Paths.get("/tmp/graft_no_such_lineage.jsonl")
    java.nio.file.Files.deleteIfExists(p)
    assert(resolveCommitted("32", p) ==
      (Some(0.57), "default"))
    assert(resolveCommitted("16", p) == (None, "off"))
  }

  // -------------------------------------------------------------
  // Torn-line guard (r14 advice): a crash mid-append leaves a partial
  // trailing line; its fragment must never enter the min pool.

  test("a torn trailing line cannot pin the level at zero") {
    // a line regex would read `"median":0.` as 0.0; unguarded, the min would pin
    // the level at 0 and flag every window (ratio = Infinity) for the
    // next N runs
    val lineage = tmpLineage(
      entry(32, 0.50, Some(false)),
      """{"cpus":32,"median":0.""")
    assert(resolveCommitted("32", lineage) ==
      (Some(0.50), "derived"))
  }

  test("a non-positive median is ignored even in a complete line") {
    val lineage = tmpLineage(
      """{"cpus":32,"median":0,"committed":null,"ratio":null,"inflated":null,"provenance":"off"}""",
      entry(32, 0.52, Some(false)))
    assert(resolveCommitted("32", lineage) ==
      (Some(0.52), "derived"))
  }

  test("a lineage of ONLY torn lines falls back to the bootstrap") {
    val lineage = tmpLineage("""{"cpus":32,"median":0.""")
    assert(resolveCommitted("32", lineage) ==
      (Some(0.57), "default"))
  }

  // -------------------------------------------------------------
  // IO axis (r15): same lattice over the `median_io` field.

  private def entryIo(cpus: Int, cpuMedian: Double, ioMedian: Double): String =
    s"""{"cpus":$cpus,"median":$cpuMedian,"committed":0.57,"ratio":1.0,"inflated":false,"median_io":$ioMedian,"committed_io":0.60,"ratio_io":1.0,"inflated_io":false,"provenance":"default","provenance_io":"default"}"""

  test("io level derives from median_io, independent of the cpu medians") {
    val lineage = tmpLineage(
      entryIo(32, 0.40, 0.70),
      entryIo(32, 0.80, 0.65))
    assert(resolveCommittedIo("32", lineage) ==
      (Some(0.65), "derived"))
    assert(resolveCommitted("32", lineage) ==
      (Some(0.40), "derived"),
      "the cpu axis must not read the io medians")
  }

  test("pre-r15 lines (no median_io) leave the io axis on its bootstrap") {
    val lineage = tmpLineage(entry(32, 0.50, Some(false)))
    assert(resolveCommittedIo("32", lineage) ==
      (Some(0.60), "default"))
    assert(resolveCommittedIo("8", lineage) == (None, "off"))
  }

  // -------------------------------------------------------------
  // Either-axis flag + attribution.

  test("the r14 driver window flags on the io axis (the live false-negative, replayed)") {
    // the incident: cpu canary 0.97x (calm) on a window where
    // byte-identical code ran +22% wall and shuffle-heavy queries hit
    // 2.1x — an io probe shaped like the blind spot reads the pressure
    assert(Bench.flagAxes(Some(0.97), Some(2.1)) == (Some(true), Some("io")))
  }

  test("cpu-only and both-axes attributions") {
    assert(Bench.flagAxes(Some(1.8), Some(0.9)) == (Some(true), Some("cpu")))
    assert(Bench.flagAxes(Some(1.8), Some(1.8)) == (Some(true), Some("cpu+io")))
    assert(Bench.flagAxes(Some(1.0), Some(1.0)) == (Some(false), None))
  }

  test("an unresolved axis cannot fire; both unresolved leaves the flag undetermined") {
    assert(Bench.flagAxes(None, Some(2.0)) == (Some(true), Some("io")))
    assert(Bench.flagAxes(Some(2.0), None) == (Some(true), Some("cpu")))
    assert(Bench.flagAxes(None, None) == (None, None))
  }

  test("exactly at the threshold is calm (strictly-greater flag)") {
    assert(Bench.flagAxes(Some(1.5), Some(1.5)) == (Some(false), None))
  }

  // -------------------------------------------------------------
  // Lineage trim on append (r14 What's-wrong 4).

  test("trim keeps the newest N entries per core count, preserving order") {
    val lines = (1 to 60).map(i => entry(32, i / 100.0, Some(false))) ++
      (1 to 3).map(i => entry(4, i.toDouble, None))
    val trimmed = Bench.trimLineage(lines, keep = 50)
    assert(trimmed.count(_.contains("\"cpus\":32")) == 50)
    assert(trimmed.count(_.contains("\"cpus\":4")) == 3,
      "a busy core count must not evict another count's history")
    // the newest 32-core entries survive (11..60), oldest dropped
    assert(trimmed.head.contains(s""""median":${11 / 100.0}"""))
    assert(trimmed.last == entry(4, 3.0, None))
  }

  // -------------------------------------------------------------
  // Per-query lineage floors (r15 verdict #1): the canary names an
  // inflated window but cannot rank two CALM ones — floors make two
  // calm windows comparable against a common per-query minimum.

  private def entryQ(cpus: Int, qMins: Seq[(String, Double)]): String = {
    val qj = qMins.map { case (q, t) => "\"" + q + "\":" + t }
      .mkString("{", ",", "}")
    s"""{"cpus":$cpus,"median":0.50,"committed":0.57,"ratio":0.88,"inflated":false,"median_io":0.55,"committed_io":0.60,"ratio_io":0.92,"inflated_io":false,"provenance":"default","provenance_io":"default","q_mins":$qj}"""
  }

  test("a query's floor is the min of its q_mins across recent windows") {
    val lineage = tmpLineage(
      entryQ(32, Seq("qa" -> 1.50, "qb" -> 3.00)),
      entryQ(32, Seq("qa" -> 1.20, "qb" -> 3.40, "qc" -> 0.80)))
    val (floors, windows, prov) = resolveQueryFloors("32", lineage)
    assert(windows == 2 && prov == "same-heap")
    assert(floors == Map("qa" -> 1.20, "qb" -> 3.00, "qc" -> 0.80))
  }

  test("floors are per core count; pre-r16 lines (no q_mins) and torn lines contribute nothing") {
    val lineage = tmpLineage(
      entryQ(4, Seq("qa" -> 9.00)),
      entry(32, 0.50, Some(false)), // pre-r16: no q_mins map
      """{"cpus":32,"median":0.50,"q_mins":{"qa":0.""", // torn mid-write
      entryQ(32, Seq("qa" -> 1.10)))
    val (floors, windows, _) = resolveQueryFloors("32", lineage)
    assert(windows == 1 && floors == Map("qa" -> 1.10),
      "the 4-core entry, the floor-less entry and the torn line are all invisible")
    assert(resolveQueryFloors("8", lineage) == (Map.empty, 0, "none"))
  }

  test("only the last N q_mins-bearing windows enter; older minima age out") {
    val lines = (1 to 7).map(i => entryQ(32, Seq("qa" -> (10.0 - i))))
    val (floors, _, _) = resolveQueryFloors("32", tmpLineage(lines: _*))
    // last 5 entries carry qa = 7,6,5,4,3 — the old 9/8 minima are out
    assert(floors == Map("qa" -> 3.0))
  }

  test("the r15 calm-vs-calm incident is distinguishable via the floor report") {
    // the live pair: byte-identical trees, both canary axes calm,
    // committed window 156.8 s vs the driver rerun 118.7 s — a 1.32x
    // gap the 1.5x trip band could not see. Against a common floor
    // (seeded by the calm rerun's own minima), the slow window reads
    // 1.32x and the fast one 1.0x: ranked, not noise.
    val floors = Map("q_heavy" -> 80.0, "q_mid" -> 30.0, "q_light" -> 8.7)
    val calmRerun = Seq(("q_heavy", 80.0), ("q_mid", 30.0), ("q_light", 8.7))
    val slowWindow = Seq(("q_heavy", 106.0), ("q_mid", 39.0), ("q_light", 11.8))
    val (ftA, rA, _) = Bench.floorReport(calmRerun, floors)
    val (ftB, rB, perQ) = Bench.floorReport(slowWindow, floors)
    assert(ftA == ftB && ftA.contains(118.7), "common floor_total")
    assert(math.abs(rA.get - 1.0) < 0.001, "the calm rerun reads 1.0x its floor")
    assert(rB.get > 1.25 && rB.get < 1.40,
      s"the slow window reads ~1.32x the same floor (got ${rB.get})")
    assert(perQ.toMap.apply("q_heavy") > 1.3,
      "per-query attribution survives in the report")
  }

  test("floor report joins only queries with a positive floor and a successful time") {
    val floors = Map("qa" -> 2.0, "qz" -> 0.0)
    val window = Seq(("qa", 3.0), ("qb", 5.0), ("qz", 1.0), ("qf", -1.0))
    val (ft, r, perQ) = Bench.floorReport(window, floors)
    assert(ft.contains(2.0) && r.contains(1.5) && perQ == Seq(("qa", 1.5)),
      "qb has no floor, qz a zero floor, qf failed — none may enter")
    assert(Bench.floorReport(window, Map.empty) == (None, None, Seq.empty))
  }

  // -------------------------------------------------------------
  // Heap keying (r16): the same tree measured the allocation-heavy
  // query cluster 3-4x slower under -Xmx96g than the 8g default with
  // both canary axes calm — the JVM heap is an environment axis like
  // the core count, and cross-heap windows must never share levels
  // or floors.

  test("a different-heap window's lineage line is invisible; same heap matches") {
    val line96 = """{"cpus":32,"heap_mb":98304,"median":0.50,"q_mins":{"qa":3.5}}"""
    val line8 = """{"cpus":32,"heap_mb":7936,"median":0.60,"q_mins":{"qa":0.9}}"""
    assert(heapMatches(line8, 7936, currentIsDefault = true))
    assert(!heapMatches(line96, 7936, currentIsDefault = true),
      "the 96g window must not seed an 8g run's levels or floors")
    assert(heapMatches(line96, 98304, currentIsDefault = false))
    assert(!heapMatches(line8, 98304, currentIsDefault = false))
  }

  test("legacy lines (no heap_mb) are default-heap lines: visible only to default-heap runs") {
    val legacy = entry(32, 0.50, Some(false))
    assert(heapMatches(legacy, 7936, currentIsDefault = true),
      "all historical windows ran at the build default")
    assert(!heapMatches(legacy, 98304, currentIsDefault = false),
      "an inflated-heap run must not inherit default-heap history")
  }

  // -------------------------------------------------------------
  // Simulated non-default heap (r16 What's-wrong #1, the driver's
  // live environment: SPARK_DRIVER_MEM≈89 GiB, lineage full of
  // default-heap history). The whole resolution is exercised under
  // injected heap keys — no env export needed — proving the suite
  // and the floor machinery behave at ANY fork heap.

  test("under a non-default heap, committed levels ignore default-heap history and fall back") {
    val lineage = tmpLineage(
      entry(32, 0.40, Some(false)), // legacy default-heap line
      entryIo(32, 0.42, 0.55))
    assert(Bench.resolveCommitted("32", lineage,
      currentHeapMb = 91136L, currentIsDefault = false) ==
      (Some(0.57), "default"),
      "default-heap minima must not arm a 89g window's flag; the bootstrap applies")
    assert(Bench.resolveCommitted("8", lineage,
      currentHeapMb = 91136L, currentIsDefault = false) == (None, "off"))
  }

  test("same-heap lineage at a non-default heap derives normally") {
    val l96a = """{"cpus":32,"heap_mb":91136,"median":0.80,"committed":0.57,"ratio":1.4,"inflated":false,"provenance":"default"}"""
    val l96b = """{"cpus":32,"heap_mb":91136,"median":0.72,"committed":0.57,"ratio":1.26,"inflated":false,"provenance":"default"}"""
    val lineage = tmpLineage(entry(32, 0.40, Some(false)), l96a, l96b)
    assert(Bench.resolveCommitted("32", lineage,
      currentHeapMb = 91136L, currentIsDefault = false) ==
      (Some(0.72), "derived"),
      "a 89g run derives from its own heap's windows, not the 8g minima")
  }

  test("a non-default-heap window is never floor-BLIND: cross-heap advisory floors") {
    // the r16 incident replayed: all history at the default heap, the
    // driver window at 89g — r16 resolved ZERO floor windows and the
    // flagship floor report was empty. Now: same-heap first, else the
    // cross-heap pool with an advisory provenance label.
    val lineage = tmpLineage(
      entryQ(32, Seq("qa" -> 1.50, "qb" -> 3.00)),
      entryQ(32, Seq("qa" -> 1.20, "qb" -> 3.40)))
    val (floors, windows, prov) = Bench.resolveQueryFloors("32", lineage,
      currentHeapMb = 91136L, currentIsDefault = false)
    assert(windows == 2 && prov == "cross-heap",
      "the driver window must get a floor report, labelled advisory")
    assert(floors == Map("qa" -> 1.20, "qb" -> 3.00))
  }

  test("same-heap floors win over the cross-heap pool when both exist") {
    val l96 = """{"cpus":32,"heap_mb":91136,"median":0.80,"q_mins":{"qa":4.0}}"""
    val lineage = tmpLineage(entryQ(32, Seq("qa" -> 1.20)), l96)
    val (floors, windows, prov) = Bench.resolveQueryFloors("32", lineage,
      currentHeapMb = 91136L, currentIsDefault = false)
    assert(windows == 1 && prov == "same-heap" && floors == Map("qa" -> 4.0),
      "with own-heap history the floors are authoritative, not advisory — " +
        "and the 8g minima (3-4x faster on the allocation cluster) stay out")
  }

  test("trim keeps duplicates that fall inside the window") {
    // two identical windows (same medians serialize to the same line):
    // index-based selection must keep both when both are recent
    val dup = entry(32, 0.50, Some(false))
    assert(Bench.trimLineage(Seq(dup, dup), keep = 50) == Seq(dup, dup))
    // ...and drop only the OLD occurrence when the window is exceeded
    val lines = dup +: (1 to 50).map(i => entry(32, i / 100.0, Some(false)))
    val trimmed = Bench.trimLineage(lines :+ dup, keep = 50)
    assert(trimmed.size == 50 && trimmed.last == dup)
  }

  // -------------------------------------------------------------
  // Writer and reader agree: the line Bench appends is the line its
  // resolvers read back.

  test("a lineage entry from Bench's writer reads back with the values it was written with") {
    val cpu = Bench.Axis(Seq(0.530, 0.512, 0.700), Some(0.57), "default", 1.5)
    val io = Bench.Axis(Seq(0.634, 0.650, 0.610), None, "off", 1.5)
    val line = Bench.lineageEntry("32", DefaultHeapMb, cpu, io,
      Seq("qa" -> 1.234, "qb" -> 0.05))
    val lineage = tmpLineage(line)
    assert(resolveCommitted("32", lineage) == (Some(0.530), "derived"))
    assert(resolveCommittedIo("32", lineage) == (Some(0.634), "derived"))
    assert(resolveQueryFloors("32", lineage) ==
      (Map("qa" -> 1.234, "qb" -> 0.05), 1, "same-heap"))
    assert(heapMatches(line, DefaultHeapMb, currentIsDefault = false))
    assert(resolveCommitted("8", lineage) == (None, "off"),
      "the entry is keyed on the core count it was written with")
  }
}
