package graft

/** Small-n co-residency proof for the concurrent streaming soak
  * harness (`ConcurrentSoak`, beside this spec): six kernels sharing
  * one paced source in one session, every kernel draining every row,
  * every kernel's peak state-store rows inside its STREAMING.md bound.
  * STREAMING.md records the same harness at 1e7 rows; this keeps the
  * harness and the bounds continuously green in the suite.
  */
class ConcurrentSoakSpec extends SparkSpec {

  test("six co-resident kernels drain one paced source within state bounds") {
    // paceSec must keep the landing SLOWER than the micro-batch cadence
    // so window eviction actually engages mid-run — at paceSec=4 the
    // whole 12 h span lands inside ~one batch and the windowed kernels
    // legitimately hold every window at once, which proves nothing
    // about the eviction bound
    // the 20 s pacing keeps per-batch ingest spans small, so the spec
    // can hold the TIGHTER 8-window allowance (8 < the span's 13 total
    // windows — the assertion proves eviction, not just completion)
    val rep = ConcurrentSoak.run(spark, n = 200000L, spanHours = 12,
      paceSec = 20.0, windowAllowance = 8)
    assert(rep.rows == 200000L)
    assert(rep.kernels.size == 6)
    rep.kernels.foreach { k =>
      assert(k.inputRows >= rep.rows,
        s"${k.name} drained only ${k.inputRows} of ${rep.rows} rows")
      assert(k.maxStateRows <= k.bound,
        s"${k.name} peaked at ${k.maxStateRows} state rows, bound ${k.bound}")
      assert(k.ok)
    }
  }
}
