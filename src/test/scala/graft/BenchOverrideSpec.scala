package graft

/** The bench harness has no override forms: it times exactly the gate
  * catalog, the plans the oracle checks. Also its priors parsing and
  * contention canary. */
class BenchOverrideSpec extends SparkSpec {

  // an orphan oracle would be a dead driver row; a bench entry outside
  // the gate catalog would time a plan the oracle never checks
  test("catalog key discipline: bench suite = gate catalog, every oracle " +
      "keys it") {
    val qs = SparkEntry.queries.keySet
    assert(Bench.suite(None).map(_._1) === qs.toSeq.sorted,
      "the bench suite must be the gate catalog, by name")
    assert(Bench.suite(Some(Set("q1_agg", "no_such_query"))).map(_._1)
      === Seq("q1_agg"))
    val orphanOracles = SparkEntry.oracleSql.keySet -- qs
    assert(orphanOracles.isEmpty,
      s"oracles without a gate query: $orphanOracles")
  }

  test("priors parsing is per-pair: one malformed numeric token keeps " +
      "its pair out without discarding the rest (ADVICE r11)") {
    val good = Bench.parsePriors("""{"a": 1.5, "b": 2, "c": 3e-1}""")
    assert(good === Map("a" -> 1.5, "b" -> 2.0, "c" -> 0.3))
    // "b"'s value is junk ("1.2.3" matches the pair regex but not
    // toDouble) — a and c must survive
    val part = Bench.parsePriors("""{"a": 1.5, "b": 1.2.3, "c": 4}""")
    assert(part === Map("a" -> 1.5, "c" -> 4.0))
    // non-finite overflow values are dropped, not propagated
    assert(Bench.parsePriors("""{"a": 1e999, "b": 2}""")
      === Map("b" -> 2.0))
    assert(Bench.parsePriors("") === Map.empty)
    assert(Bench.parsePriors("not json at all") === Map.empty)
  }

  test("contention canary: live readings decide when present, start " +
      "load only as the canary-less fallback, and readings are sane") {
    val p = BenchCanary.PinnedPriorSec
    // quiet run: low start load, every chunk at/below prior
    assert(!BenchCanary.contended(0.3, Seq(p, p * 0.9, p * 1.1), p))
    // a single mid-run BURST marks the run (the r14 chunk-10 shape)
    assert(BenchCanary.contended(0.3, Seq(p, p * 2.0, p), p))
    // one MODERATE sample is self-noise, not contention (a quiet
    // load-0.0 full run read one boundary at 1.38× among 26 clean)
    assert(!BenchCanary.contended(0.3, Seq(p, p * 1.5, p), p))
    // ...but two moderate samples are sustained contention
    assert(BenchCanary.contended(0.3, Seq(p, p * 1.5, p * 1.45), p))
    // an elevated start load with QUIET live canaries does NOT mark the
    // run: load1m decays from whatever just ended (the driver's own
    // verify pass always precedes its bench) — in-run measurement wins
    assert(!BenchCanary.contended(6.0, Seq(p, p * 1.1), p))
    // pre-loaded machine marks the run when there are NO canary
    // readings (SPARK_GRAFT_NO_CANARY) — the r12 start-load signature
    assert(BenchCanary.contended(6.0, Seq.empty, p))
    assert(!BenchCanary.contended(0.3, Seq.empty, p))
    // boundary: exactly at the threshold is NOT contended
    assert(!BenchCanary.contended(0.3, Seq(p * BenchCanary.ContendedRatio), p))
    // a real reading is positive, finite, and not absurdly long (the
    // fixed work is ~0.25 s quiet; 30 s would mean the workload
    // constant or the host changed under us)
    val sec = BenchCanary.once(4)
    assert(sec > 0.0 && sec.isFinite && sec < 30.0, s"canary read $sec s")
  }
}
