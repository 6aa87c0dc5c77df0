package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the knob parser (`Knobs.parse`) and the session factory's conf
  * map (`Engine.confs`). Pure: no session is built here — a second
  * `getOrCreate` would mutate the suite's shared session.
  */
class EngineConfSpec extends AnyFunSuite {
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

  test("knob defaults: nproc cores, size-derived shuffle, 128 KiB floor, fan on") {
    assert(defaults == Knobs(nproc, None, 128L << 10, fanDisable = false))
  }

  test("knob parse: 0, negative, non-numeric and empty values fall back") {
    for (bad <- Seq("0", "-3", "abc", "")) {
      val k = Knobs.parse(Map(
        "SPARK_GRAFT_CPUS" -> bad,
        "SPARK_GRAFT_INITIAL_SHUFFLE" -> bad,
        "SPARK_GRAFT_MIN_PARTITION" -> bad))
      assert(k == defaults, s"value '$bad' did not fall back: $k")
    }
  }

  test("knob parse: valid values are used; FAN_DISABLE is a presence switch") {
    val k = Knobs.parse(Map(
      "SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_INITIAL_SHUFFLE" -> "96",
      "SPARK_GRAFT_MIN_PARTITION" -> "65536",
      "SPARK_GRAFT_FAN_DISABLE" -> ""))
    assert(k == Knobs(3, Some(96), 65536L, fanDisable = true))
  }

  test("Verify's confs are Bench's plus the single INT96 override") {
    val dir = dataDir(1L << 20)
    val bench = Engine.confs(4, dataDir = Some(dir), knobs = defaults)
    val verify = Engine.confs(4, Verify.confOverrides, Some(dir), defaults)
    assert(Verify.confOverrides.size == 1)
    assert(bench("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(verify == bench + ("spark.sql.parquet.outputTimestampType" -> "INT96"))
  }

  test("a data dir sizes initialPartitionNum; without one it is cpus * 8") {
    // 24 MiB at 1 core → 3 buckets, distinct from both cpus and cpus * 8
    val dir = dataDir(24L << 20)
    val sized = Engine.confs(1, dataDir = Some(dir), knobs = defaults)
    assert(sized(initialNum) == Engine.initialShufflePartitions(1, dir, defaults).toString)
    assert(sized(initialNum) == "3")
    assert(Engine.confs(1, knobs = defaults)(initialNum) == "8")
  }

  test("knobs flow into the conf map; extraConfs win over defaults") {
    val k = Knobs.parse(Map(
      "SPARK_GRAFT_INITIAL_SHUFFLE" -> "96", "SPARK_GRAFT_MIN_PARTITION" -> "65536"))
    val c = Engine.confs(2, Map("spark.sql.shuffle.partitions" -> "5"),
      Some(dataDir(24L << 20)), k)
    assert(c(initialNum) == "96")
    assert(c("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "65536")
    assert(c("spark.sql.shuffle.partitions") == "5")
    assert(c("spark.master") == "local[2]")
  }
}
