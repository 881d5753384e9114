package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling block's fit check, as plain arithmetic (no cluster starts). */
class BenchSpec extends AnyFunSuite {

  test("Bench.misfit: executor heaps + driver heap + staged tmpfs against MemTotal and the cgroup limit") {
    // the default scaling cluster: 4 executors x 4 cores x 8 GiB, an 8 GiB
    // driver heap, 16M + 4M staged rows at 33 bytes each (629 MB)
    val staged = (20000000L * 33) >> 20
    val need = 4 * 8192L + 8192 + staged
    // a 32-core, 128 GiB host without a cgroup limit: fits, as before
    assert(Bench.misfit(4, 4, 8192, 32, 8192, staged, Some(131072L), None).isEmpty)
    assert(Bench.misfit(4, 4, 8192, 32, 8192, staged, Some(131072L), Some(131072L)).isEmpty)
    assert(Bench.misfit(4, 4, 8192, 32, 8192, staged, None, None).isEmpty)
    // cores are checked first, with the message the scaling error carried before
    assert(Bench.misfit(4, 4, 8192, 4, 8192, staged, Some(16000L), None) ==
      Some("local-cluster[4,4,8192] needs 16 cores, the host has 4"))
    // the executor heaps alone fit; with the driver heap and the staged
    // input they do not
    val tight = Bench.misfit(4, 4, 8192, 32, 8192, staged, Some(need - 1), None)
    assert(tight == Some(s"local-cluster[4,4,8192] needs $need MB (32768 executors + " +
      s"8192 driver heap + $staged staged input on tmpfs), the host has ${need - 1} MB (MemTotal)"))
    assert(Bench.misfit(4, 4, 8192, 32, 8192, staged, Some(need), None).isEmpty)
    // staged input off tmpfs costs no memory
    assert(Bench.misfit(4, 4, 8192, 32, 8192, 0L, Some(40960L), None).isEmpty)
    // a cgroup limit below MemTotal binds
    val capped = Bench.misfit(4, 4, 8192, 32, 8192, staged, Some(131072L), Some(40960L))
    assert(capped.exists(_.endsWith("the host has 40960 MB (cgroup memory.max)")), capped)
  }
}
