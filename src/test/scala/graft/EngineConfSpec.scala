package graft

/** Pins the `SPARK_GRAFT_CPUS` parser (`Knobs.parse`) and the session
  * factory's conf map (`Engine.confs`). Pure: no session is built here —
  * a second `getOrCreate` would mutate the suite's shared session (only
  * [[SparkSpec.sfDir]] is used, never its lazy `spark`).
  */
class EngineConfSpec extends SparkSpec {
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val defaults = Knobs.parse(Map.empty)
  private val initialNum = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** A temp data dir holding one sparse file of `bytes` logical bytes. */
  private def dataDir(bytes: Long): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-conf").toFile
    val t = new java.io.File(d, "t.parquet")
    val f = new java.io.RandomAccessFile(t, "rw")
    try f.setLength(bytes) finally f.close()
    d.deleteOnExit(); t.deleteOnExit()
    d.toString
  }

  test("knob defaults: nproc cores") {
    assert(defaults == Knobs(nproc))
  }

  test("knob parse: 0, negative, non-numeric and empty values fall back") {
    for (bad <- Seq("0", "-3", "abc", "")) {
      val k = Knobs.parse(Map("SPARK_GRAFT_CPUS" -> bad))
      assert(k == defaults, s"value '$bad' did not fall back: $k")
    }
  }

  test("knob parse: a valid SPARK_GRAFT_CPUS is used") {
    assert(Knobs.parse(Map("SPARK_GRAFT_CPUS" -> " 3 ")) == Knobs(3))
  }

  test("Verify's confs are Bench's plus the single INT96 override") {
    val dir = dataDir(1L << 20)
    val bench = Engine.confs(4, dataDir = Some(dir))
    val verify = Engine.confs(4, Verify.confOverrides, Some(dir))
    assert(Verify.confOverrides.size == 1)
    assert(bench("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(verify == bench + ("spark.sql.parquet.outputTimestampType" -> "INT96"))
  }

  test("a data dir sizes initialPartitionNum; without one it is cpus") {
    // 24 MiB at 1 core → 3 buckets, distinct from both cpus and cpus * 8
    val dir = dataDir(24L << 20)
    val sized = Engine.confs(1, dataDir = Some(dir))
    assert(sized(initialNum) == Engine.initialShufflePartitions(1, dir).toString)
    assert(sized(initialNum) == "3")
    // no dir: the same rule over 0 bytes
    assert(Engine.confs(1)(initialNum) == "1")
    assert(Engine.confs(3)(initialNum) == "3")
  }

  test("knobs flow into the conf map; extraConfs win over defaults") {
    val k = Knobs.parse(Map("SPARK_GRAFT_CPUS" -> "2"))
    val c = Engine.confs(k.cpus, Map("spark.sql.shuffle.partitions" -> "5"),
      Some(dataDir(24L << 20)))
    assert(c("spark.sql.shuffle.partitions") == "5")
    assert(c("spark.master") == "local[2]")
  }

  test("the sf0.1 bench layout at 4 cores: 4 initial buckets, 128 KiB floor") {
    // Bench, Verify and perfbench all plan sf0.1 at this layout; a rule
    // change that moves it must show up here, not as a silent drift
    val c = Engine.confs(4, dataDir = Some(sfDir("sf0.1")))
    assert(c(initialNum) == "4")
    assert(c("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "131072")
  }
}
