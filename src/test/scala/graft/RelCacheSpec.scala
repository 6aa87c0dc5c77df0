package graft

/** Lifecycle of the memoized base-relation cache (`Tables.relCache`):
  * entries are keyed by session IDENTITY and swept when their session
  * dies. A spec cannot stop the suite-shared SparkContext (in Spark,
  * `session.stop()` stops the context every suite in this JVM shares),
  * so the sweep mechanics are pinned here against live sessions via
  * the predicate form, and the real listener-fired stop path runs in a
  * child JVM ([[RelCacheStopMain]]) that owns its context.
  */
class RelCacheSpec extends SparkSpec {

  test("a real spark.stop() evicts the stopped session's entries (child JVM)") {
    import scala.jdk.CollectionConverters._
    // the child runs with this forked test JVM's classpath and options;
    // its heap is pinned small (a later -Xmx wins)
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val log = java.nio.file.Files.createTempFile("relcache-stop", ".log").toFile
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        "graft.RelCacheStopMain", sf)
    val child = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(log).start()
    val finished = child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) child.destroyForcibly()
    val out = new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
    assert(finished, s"child JVM did not finish within 180 s:\n$out")
    assert(child.exitValue() == 0,
      s"child JVM exited ${child.exitValue()}:\n$out")
  }

  test("cache keys by session identity; evictWhere drops exactly the match") {
    val child = spark.newSession()
    // populate both sessions' entries for the same path
    Tables.region(spark, sf).count()
    Tables.region(child, sf).count()
    assert(Tables.cachedPaths(spark).contains(s"$sf/region.parquet"))
    assert(Tables.cachedPaths(child).contains(s"$sf/region.parquet"))

    val evicted = Tables.evictWhere(_ eq child)
    assert(evicted >= 1, "child session's entries were not swept")
    assert(Tables.cachedPaths(child).isEmpty,
      "evictWhere left entries for the evicted session")
    assert(Tables.cachedPaths(spark).contains(s"$sf/region.parquet"),
      "evictWhere must not touch other sessions' entries")
  }

  test("invalidatePath drops entries under the prefix for every session") {
    val child = spark.newSession()
    Tables.customer(spark, sf).count()
    Tables.customer(child, sf).count()
    val n = Tables.invalidatePath(sf)
    assert(n >= 2, s"expected both sessions' $sf entries dropped, got $n")
    // assert emptiness on the child only: a concurrently-running suite
    // may legitimately repopulate the SHARED session's entries between
    // the invalidate and this line
    assert(!Tables.cachedPaths(child).exists(_.startsWith(sf)))
    // repopulates on next read
    assert(Tables.customer(child, sf).count() > 0)
    assert(Tables.cachedPaths(child).exists(_.startsWith(sf)))
  }

  test("evictStopped is a no-op while sessions are live; re-read repopulates") {
    Tables.nation(spark, sf).count()
    assert(Tables.evictStopped() == 0,
      "evictStopped swept entries of a live context")
    assert(Tables.cachedPaths(spark).contains(s"$sf/nation.parquet"))
    // a swept session repopulates transparently on next read
    val child = spark.newSession()
    Tables.nation(child, sf)
    Tables.evictWhere(_ eq child)
    assert(Tables.nation(child, sf).count() > 0)
    assert(Tables.cachedPaths(child).contains(s"$sf/nation.parquet"))
  }
}

/** Child-JVM half of RelCacheSpec's stop test: populate the relation
  * cache through [[Tables]], stop the session, and exit non-zero unless
  * the application-end listener swept the stopped session's entries.
  */
object RelCacheStopMain {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-relcache-stop", 1)
    Tables.region(spark, args(0)).count()
    if (Tables.cachedPaths(spark).isEmpty) {
      System.err.println("relation cache empty before stop: nothing to evict")
      sys.exit(2)
    }
    spark.stop()
    val left = Tables.cachedPaths(spark)
    if (left.nonEmpty) {
      System.err.println(s"Tables.relCache retained $left for a stopped session")
      sys.exit(1)
    }
  }
}
