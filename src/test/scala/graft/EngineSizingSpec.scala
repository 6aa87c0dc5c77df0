package graft

/** Pins the scale-adaptive initial-shuffle-bucket rule
  * (`Engine.sizeInitialPartitions`): one bucket per 8 MiB of on-disk
  * input, clamped to [cpus, cpus*32]. The floor keeps sf0.1-class
  * inputs at exactly `cpus` buckets (the flat-8× r18 interim taxed
  * every small-SF shuffle ~15% in block count); the linear region
  * reproduces the 8 GiB sf10 OOM fix (~1.75 GB → ~219 buckets ≈ the
  * 8×32 that fixed it); the cap bounds block-count growth (§2.2).
  */
class EngineSizingSpec extends SparkSpec {

  test("floor: small inputs stay at cpus buckets") {
    assert(Engine.sizeInitialPartitions(32, 0L) == 32)
    // sf0.1 is ~17.5 MB on disk → far under 32 * 8 MiB
    assert(Engine.sizeInitialPartitions(32, 17500000L) == 32)
    // sf1 ~175 MB → 21 buckets, still floored
    assert(Engine.sizeInitialPartitions(32, 175000000L) == 32)
  }

  test("linear region: sf10-class input lands in the OOM-fix regime") {
    // ~1.75 GB → 208 buckets (vs the flat 8×32=256 interim fix)
    val sf10 = Engine.sizeInitialPartitions(32, 1750000000L)
    assert(sf10 > 32 * 4 && sf10 <= 32 * 8, s"got $sf10")
  }

  test("cap: buckets never exceed cpus*32") {
    assert(Engine.sizeInitialPartitions(32, Long.MaxValue / 2) == 32 * 32)
    assert(Engine.sizeInitialPartitions(4, 100L << 30) == 4 * 32)
  }

  test("directory helper sizes the testdata dirs from every file's bytes") {
    // scanFootprint skips `_`/`.`-prefixed metadata files; the testdata
    // dirs hold none, so the count equals a walk over every regular file
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = java.nio.file.Paths.get(sfDir(scale))
      val walk = java.nio.file.Files.walk(dir)
      val allBytes =
        try walk.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally walk.close()
      assert(allBytes > 0, s"$scale: no input found")
      assert(graft.operators.Partitioning.scanFootprint(dir.toString)._2 == allBytes, scale)
      for (cpus <- Seq(1, 4, 32))
        assert(Engine.initialShufflePartitions(cpus, dir.toString) ==
          Engine.sizeInitialPartitions(cpus, allBytes),
          s"$scale at $cpus cpus")
    }
  }

  test("directory helper floors to cpus when the dir is missing") {
    assert(Engine.initialShufflePartitions(16, "/nonexistent-graft-dir") == 16)
  }
}
