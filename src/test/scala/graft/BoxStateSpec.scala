package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates on the bench-integrity plumbing (VERDICT r13 #1-#3): official
  * record routing, foreign-CPU-share arithmetic, and the taint verdict's
  * mid-run coverage. These are pure functions — the spec pins the policy,
  * not the box. */
class BoxStateSpec extends AnyFunSuite {

  test("recordPath: only untainted full runs at the official width write BENCH_full.json") {
    // records land in the working tree that runs the bench
    def inTree(name: String) = java.nio.file.Paths.get(sys.props("user.dir"), name).toString
    assert(Bench.recordPath(isSubset = false, tainted = false, cpus = 32) ===
      inTree("BENCH_full.json"))
    // the r13 clobber: a tainted full run must route AWAY from the record
    assert(Bench.recordPath(isSubset = false, tainted = true, cpus = 32) ===
      inTree("BENCH_tainted.json"))
    // the silent-default trap: local[4] produces an official-looking file
    assert(Bench.recordPath(isSubset = false, tainted = false, cpus = 4) ===
      inTree("BENCH_tainted.json"))
    // subset runs keep their scratch file regardless of taint
    assert(Bench.recordPath(isSubset = true, tainted = false, cpus = 32) ===
      inTree("BENCH_only.json"))
    assert(Bench.recordPath(isSubset = true, tainted = true, cpus = 4) ===
      inTree("BENCH_only.json"))
  }

  test("foreignShare: subtracts own-lineage ticks from the box's busy ticks") {
    val a = BoxState.CpuTicks(systemBusy = 1000, systemTotal = 10000, ownTicks = 800)
    // over the interval: box busy +3200 of +6400 total, we burned 3000 →
    // foreign = 200 / 6400
    val b = BoxState.CpuTicks(systemBusy = 4200, systemTotal = 16400, ownTicks = 3800)
    assert(math.abs(BoxState.foreignShare(a, b) - 200.0 / 6400.0) < 1e-12)
  }

  test("foreignShare: degrades to 0.0 on unreadable /proc or clock skew") {
    val z = BoxState.CpuTicks(0, 0, 0)
    assert(BoxState.foreignShare(z, z) === 0.0)
    // own ticks exceeding system busy (scheduler tick rounding) clamps at 0
    val a = BoxState.CpuTicks(1000, 10000, 500)
    val b = BoxState.CpuTicks(1100, 11000, 700)
    assert(BoxState.foreignShare(a, b) === 0.0)
  }

  test("cpuTicks: reads real /proc counters and own share dominates a spin interval") {
    val a = BoxState.cpuTicks()
    assert(a.systemTotal > 0, "/proc/stat must be readable on this box")
    assert(a.ownTicks > 0, "/proc/self+ancestors stat must be readable")
    // burn ~0.3s of CPU in this process; on a quiet box the interval's
    // foreign share stays far below the taint threshold
    val deadline = System.nanoTime() + 300000000L
    var x = 0L
    while (System.nanoTime() < deadline) { x += 1 }
    assert(x > 0)
    val b = BoxState.cpuTicks()
    assert(b.systemTotal > a.systemTotal)
    assert(b.ownTicks >= a.ownTicks)
  }

  test("tainted: mid-run foreign CPU share taints even with clean endpoints") {
    assert(!BoxState.tainted(0.1, 0, 0, foreignCpuMax = 0.0))
    assert(!BoxState.tainted(0.1, 0, 0, foreignCpuMax = BoxState.ForeignCpuTaint))
    assert(BoxState.tainted(0.1, 0, 0, foreignCpuMax = BoxState.ForeignCpuTaint + 0.01))
    // the pre-existing endpoint rules still hold
    assert(BoxState.tainted(2.0, 0, 0))
    assert(BoxState.tainted(0.1, 1, 0))
    assert(BoxState.tainted(0.1, 0, 1))
  }
}
