package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Naming of `Bench`'s self-record: a run that infers its round must never
  * take the canonical name the round's baseline is written under. */
class BenchRecordSpec extends AnyFunSuite {

  test("only an explicit round writes the canonical self-record name") {
    val dir = Files.createTempDirectory("graft-bench-self")
    assert(Bench.inferredRound(dir) == 0)
    Files.writeString(dir.resolve("BENCH_r19.json"), "{}")
    Files.writeString(dir.resolve("BENCH_r20.json"), "{}")
    assert(Bench.inferredRound(dir) == 21)

    def name(explicit: Boolean) =
      Bench.selfRecordPath(dir, 21, explicit, "8").getFileName.toString
    // an inferred round is tagged even while the canonical name is free
    assert(name(explicit = false) == "bench_self_r21_c8_local.json")
    Files.writeString(dir.resolve("bench_self_r21_c8_local.json"), "{}")
    assert(name(explicit = false) == "bench_self_r21_c8_local.2.json")
    // so the round's own run still gets the canonical name...
    assert(name(explicit = true) == "bench_self_r21_c8.json")
    // ...and a second explicit run never overwrites it
    Files.writeString(dir.resolve("bench_self_r21_c8.json"), "{}")
    assert(name(explicit = true) == "bench_self_r21_c8.2.json")
  }
}
