package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate on where Bench writes its full record: only the protocol
  * shape (whole surface, 32 cores, sf0.1) may write the committed
  * `bench_full.json` that ScaleProofSpec's operator-share law reads.
  */
class BenchSpec extends AnyFunSuite {
  import Bench.recordPath

  test("a 32-core full run on sf0.1 writes the protocol record") {
    assert(recordPath("32", "/data/sf0.1", subset = false) === "bench_full.json")
    assert(recordPath("32", "/data/sf0.1/", subset = false) === "bench_full.json")
  }

  test("a full run at other core counts writes a sidecar named after its cores") {
    assert(recordPath("8", "/data/sf0.1", subset = false) === "bench_full.c8.json")
    assert(recordPath("4", "/data/sf0.1", subset = false) === "bench_full.c4.json")
  }

  test("a full run on another corpus dir carries the dir's name") {
    assert(recordPath("32", "/data/sf1", subset = false) === "bench_full.sf1.c32.json")
    assert(recordPath("8", "target/sf1/", subset = false) === "bench_full.sf1.c8.json")
  }

  test("a subset run writes the subset sidecar whatever its cores or corpus") {
    assert(recordPath("32", "/data/sf0.1", subset = true) === "bench_full.subset.json")
    assert(recordPath("4", "/data/sf1", subset = true) === "bench_full.subset.json")
  }
}
