package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.StageCollector.{Phase, Stage}

/** `Bench.report`'s `vs_prev` host-load verdict on synthetic runs. */
class BenchCompareSpec extends AnyFunSuite {

  /** 20 one-second queries, each with one second of task cpu and
    * `stealS` of steal, against a baseline of the same. */
  private def vsPrev(stealS: Double): String = {
    val stage = Stage(0, "s", 1, 1000, 1000, 1000000000L, 0, 0, 0, 0)
    val results = (1 to 20).map { i =>
      val run = Runner.Run(None, 0L, 0L, 1000000000L,
        Phase(1, Seq(stage)), Phase(0, Nil), Phase(0, Nil))
      Bench.Result(s"q$i", run, stealS, 0L, 0L, 1000000000L)
    }
    val base = results.map(r => r.name -> (1.0, Option(1.0))).toMap
    val (stdout, _) = Bench.report(results, "sf", Some("b.txt" -> base), "")
    stdout
  }

  test("a quiet run is not host_loaded") {
    val line = vsPrev(stealS = 0.05)
    assert(line.contains(""""median_wall_ratio":1.0,"median_cpu_ratio":1.0"""), line)
    assert(!line.contains("host_loaded"), line)
  }

  test("steal over a tenth of the compared wall marks the run host_loaded") {
    val line = vsPrev(stealS = 0.15)
    assert(line.contains(""""host_loaded":true"""), line)
    assert(line.contains("hypervisor steal"), line)
  }
}
