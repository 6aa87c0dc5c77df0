package graft

import graft.operators.Joins
import graft.sources.{Excel, FileSources, Sinks}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Excel connector, sinks, encodings, salting, row-id utilities. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("Excel: single-sheet roundtrip preserves values; numbers stay numeric cells") {
    val dir = Files.createTempDirectory("xlsx").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "be<ta> & co", 2.25), (3L, null.asInstanceOf[String], 0.0))
      .toDF("id", "name", "score")
    Excel.write(df, s"$dir/t.xlsx")
    val back = Excel.read(spark, s"$dir/t.xlsx")
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    val rows = back.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(1).getString(1) == "be<ta> & co")   // XML escaping roundtrip
    assert(rows(0).getString(2) == "1.5")           // all-string ingest
    assert(rows(2).isNullAt(1))                     // empty cell → null
  }

  test("Excel: inferTypes round-trips long/double/timestamp/string like pd.read_excel") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("xlsx").toString
    val ts1 = java.sql.Timestamp.valueOf("2024-03-15 10:30:00")
    val ts2 = java.sql.Timestamp.valueOf("2025-12-01 00:00:00")
    val df = Seq(
      (1L, 10.5, ts1, "alpha", 7L),
      (2L, 20.0, ts2, "beta", 8L),
      (3L, 0.25, null.asInstanceOf[java.sql.Timestamp], null.asInstanceOf[String], 9L))
      .toDF("id", "amount", "when", "label", "n")
    Excel.write(df, s"$dir/typed.xlsx")

    // default read: pandas-object parity, everything a string
    val untyped = Excel.read(spark, s"$dir/typed.xlsx")
    assert(untyped.schema.fields.forall(_.dataType == StringType))

    val typed = Excel.read(spark, s"$dir/typed.xlsx", inferTypes = true)
    assert(typed.schema.map(f => f.name -> f.dataType) == Seq(
      "id" -> LongType, "amount" -> DoubleType, "when" -> TimestampType,
      "label" -> StringType, "n" -> LongType), typed.schema.treeString)
    val rows = typed.orderBy("id").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getDouble(1) == 10.5)
    assert(rows(0).getTimestamp(2) == ts1 && rows(1).getTimestamp(2) == ts2)
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(3))
    // a groupBy.sum works with no explicit cast — the pd.read_excel
    // porting gap the round-6 review called out
    assert(typed.agg(sum("amount")).head.getDouble(0) == 30.75)
  }

  test("Excel: inferTypes falls back to string on mixed columns (pandas object)") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("xlsx").toString
    // "days" holds a date-as-string AND a number — the reference's
    // real-world junk column (Study Startup Legacy Data merge: a
    // days-count column holding 1900-02-02 00:00:00 and 135 at once)
    val df = Seq(("135", 1L), ("1900-02-02 00:00:00", 2L)).toDF("days", "id")
    Excel.write(df, s"$dir/mixed.xlsx")
    val typed = Excel.read(spark, s"$dir/mixed.xlsx", inferTypes = true)
    assert(typed.schema("days").dataType == StringType)
    assert(typed.schema("id").dataType == LongType)
    // integral-looking doubles stay double when any cell is fractional
    val df2 = Seq((3.0, "a"), (4.5, "b")).toDF("v", "k")
    Excel.write(df2, s"$dir/frac.xlsx")
    val t2 = Excel.read(spark, s"$dir/frac.xlsx", inferTypes = true)
    assert(t2.schema("v").dataType == DoubleType)
    assert(t2.orderBy("k").collect().map(_.getDouble(0)).toSeq == Seq(3.0, 4.5))
  }

  test("Excel: multi-sheet workbook (K3) with sheet selection and names") {
    val dir = Files.createTempDirectory("xlsx").toString
    val a = Seq(("x", 1)).toDF("k", "v")
    val b = Seq(("y", 2), ("z", 3)).toDF("k", "v")
    Excel.writeWorkbook(Seq("Summary" -> a, "Detail" -> b), s"$dir/wb.xlsx")
    assert(Excel.sheetNames(s"$dir/wb.xlsx") == Seq("Summary", "Detail"))
    assert(Excel.read(spark, s"$dir/wb.xlsx", Some("Detail")).count() == 2)
    assert(Excel.read(spark, s"$dir/wb.xlsx", Some("Summary")).head().getString(0) == "x")
    intercept[IllegalArgumentException] {
      Excel.read(spark, s"$dir/wb.xlsx", Some("Nope"))
    }
  }

  test("Excel: skipRows + hierarchical 2-row header flattening (S6)") {
    val dir = Files.createTempDirectory("xlsx").toString
    // preamble rows, then a 2-row header: group row (sparse) + leaf row
    val raw = Seq(
      Seq("report generated", "", ""),
      Seq("ignore me", "", ""),
      Seq("Budget", "", "Actuals"),
      Seq("Q1", "Q2", "Q1"),
      Seq("1", "2", "3"),
      Seq("4", "5", "6"))
    val df = raw.map(r => (r(0), r(1), r(2))).toDF("a", "b", "c")
    Excel.write(df.select(col("a"), col("b"), col("c")), s"$dir/h.xlsx")
    // re-read skipping the synthetic header row written by write() plus 2 preamble rows
    val back = Excel.read(spark, s"$dir/h.xlsx", skipRows = 3, headerRows = 2)
    // forward-fill: Budget,Budget,Actuals over Q1,Q2,Q1 → Budget_Q1, Budget_Q2, Actuals_Q1
    assert(back.columns.toSeq == Seq("Budget_Q1", "Budget_Q2", "Actuals_Q1"))
    assert(back.collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "2", "3"), Seq("4", "5", "6")))
  }

  test("Excel: legacy binary .xls (OLE2) fails with an explicit unsupported-format error") {
    val dir = Files.createTempDirectory("xls").toString
    // OLE2 compound-file magic is the .xls signature (what xlrd sniffs)
    val ole2 = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)
    Files.write(Paths.get(s"$dir/legacy.xls"), ole2 ++ Array.fill[Byte](512)(0))
    val ex = intercept[IllegalArgumentException] {
      Excel.read(spark, s"$dir/legacy.xls")
    }
    assert(ex.getMessage.contains(".xls") && ex.getMessage.contains("xlsx"), ex.getMessage)
    // arbitrary non-zip garbage also gets a named diagnostic, not a raw ZipException
    Files.writeString(Paths.get(s"$dir/garbage.xlsx"), "not a workbook at all")
    val ex2 = intercept[IllegalArgumentException] {
      Excel.sheetNames(s"$dir/garbage.xlsx")
    }
    assert(ex2.getMessage.contains("not an XLSX workbook"), ex2.getMessage)
  }

  test("Sinks: writeSingleCsv produces exactly one file readable back (K1)") {
    val dir = Files.createTempDirectory("csv").toString
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    Sinks.writeSingleCsv(df, s"$dir/out.csv")
    assert(Files.isRegularFile(Paths.get(s"$dir/out.csv")))
    val back = FileSources.csv(spark, s"$dir/out.csv")
    assert(back.count() == 2 && back.columns.toSeq == Seq("id", "s"))
  }

  test("UTF-16 CSV scan (S2)") {
    val dir = Files.createTempDirectory("u16").toString
    Files.write(Paths.get(s"$dir/one.csv"),
      "k,v\nä,1\nb,2\n".getBytes(StandardCharsets.UTF_16))
    val df = FileSources.csvUtf16(spark, s"$dir/one.csv")
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.orderBy("v").head().getString(0) == "ä")
  }

  test("UTF-8-BOM CSV scan (S3): BOM does not leak into the first header") {
    val dir = Files.createTempDirectory("u8bom").toString
    Files.write(Paths.get(s"$dir/sig.csv"),
      ("\uFEFF" + "k,v\na,1\n").getBytes(StandardCharsets.UTF_8))
    val df = FileSources.csv(spark, s"$dir/sig.csv")
    assert(df.columns.toSeq == Seq("k", "v"), df.columns.toSeq.toString)
    assert(df.head().getString(0) == "a")
  }

  test("NDJSON scan (S9) with multi-file glob (S11)") {
    val dir = Files.createTempDirectory("nd").toString
    Files.writeString(Paths.get(s"$dir/a.ndjson"), "{\"x\":1}\n{\"x\":2}\n")
    Files.writeString(Paths.get(s"$dir/b.ndjson"), "{\"x\":3}\n")
    assert(FileSources.ndjson(spark, s"$dir/*.ndjson").count() == 3)
  }

  test("saltedJoin matches plain join results") {
    val l = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "lv")
    val r = Seq((1, "X"), (2, "Y")).toDF("k", "rv")
    val plain = l.join(r, Seq("k")).select("k", "lv", "rv")
      .collect().map(_.toSeq).toSet
    val salted = Joins.saltedJoin(l, r, "k", buckets = 4)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("Excel K4: interactive sheet emits dataValidation dropdown + FILTER formulas") {
    val dir = Files.createTempDirectory("k4").toString
    val path = s"$dir/recon.xlsx"
    val summary = Seq(("DOR total", 100.0)).toDF("metric", "value")
    val matched = Seq(("RNG000001", 10.0), ("RNG000002", 20.0)).toDF("project_id", "amount")
    val dorDetail = Seq(("RNG000001", "2024-01-31", 10.0)).toDF("project_id", "month", "amount")
    val vpDetail = Seq(("RNG000002", "t1", 20.0)).toDF("service_line_code", "txn", "amount")
    val detail = Excel.studyDetailSheet(
      matchedRows = 2,
      sections = Seq(
        ("DOR Detail for selected Project ID", "DOR_Detail", dorDetail.columns.toSeq),
        ("VP Transactions for selected Project ID", "VP_Detail", vpDetail.columns.toSeq)))
    Excel.writeWorkbook(Seq(
      "Summary" -> summary, "Matched_Studies" -> matched,
      "DOR_Detail" -> dorDetail, "VP_Detail" -> vpDetail), path, Seq(detail))

    // workbook structure: 5 sheets, interactive last
    assert(Excel.sheetNames(path) ==
      Seq("Summary", "Matched_Studies", "DOR_Detail", "VP_Detail", "Study_Detail"))
    // data sheets still read back
    assert(Excel.read(spark, path, Some("Matched_Studies")).count() == 2)

    val xml = Excel.rawSheetXml(path, "Study_Detail")
    // dropdown: list validation on B1 over the matched-ids column
    assert(xml.contains("""<dataValidation type="list""""), xml)
    assert(xml.contains("""sqref="B1""""))
    assert(xml.contains("Matched_Studies!$A$2:$A$3"))
    // spilling FILTER formulas keyed on the dropdown cell
    assert(xml.contains("<f>FILTER(DOR_Detail!A2:C1048576, DOR_Detail!A2:A1048576=$B$1)</f>"), xml)
    assert(xml.contains("<f>FILTER(VP_Detail!A2:C1048576, VP_Detail!A2:A1048576=$B$1)</f>"))
    // labels + headers in place (reference layout: label A3, headers row 5, formula A6)
    assert(xml.contains("Select Project ID:"))
    assert(xml.contains("""<c r="A6"><f>"""))
    assert(xml.contains("""<c r="A13"><f>"""))
  }

  test("consoleReport formats title, header, and rows with money formatting (K5)") {
    val df = Seq(("RNG000001", Some(55729786.61)), ("RNG000002", None: Option[Double]))
      .toDF("project_id", "amount")
    val out = Sinks.consoleReport(df.orderBy("project_id"), "SUMMARY")
    val lines = out.split("\n")
    assert(lines(0) == "== SUMMARY ==")
    assert(lines(1) == "project_id | amount")
    assert(lines(2) == "RNG000001 | 55,729,786.61") // %,.2f money rendering
    assert(lines(3) == "RNG000002 | NULL")
  }

  test("JDBC source round-trip against embedded Derby (S14) + §3.3 pivot shape") {
    // Derby ships on the Spark unmanaged classpath — a pure-JVM embedded
    // database standing in for the reference's SQL Server view
    // (Study Startup Data Download.sql:4 over the StudyAnalytics pivot).
    val dbDir = Files.createTempDirectory("derby").toString
    val url = s"jdbc:derby:$dbDir/studydb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE StudyAnalytics (
          |  rcp_project_title VARCHAR(64),
          |  task_name VARCHAR(64),
          |  task_days_open INT)""".stripMargin)
      val ins = conn.prepareStatement("INSERT INTO StudyAnalytics VALUES (?, ?, ?)")
      for ((t, n, d) <- Seq(("P1", "Review", 5), ("P1", "Budget", 7),
        ("P2", "Review", 3), ("P2", "Budget", 2), ("P2", "Review", 4)))
        { ins.setString(1, t); ins.setString(2, n); ins.setInt(3, d); ins.executeUpdate() }
      ins.close(); st.close()
    } finally conn.close()

    val df = FileSources.jdbc(spark, url, "StudyAnalytics")
    assert(df.count() == 5)
    assert(df.columns.map(_.toLowerCase).toSeq ==
      Seq("rcp_project_title", "task_name", "task_days_open"))
    // §3.3: the dynamic-pivot dance collapses to groupBy.pivot.sum
    val pivoted = df.groupBy("RCP_PROJECT_TITLE").pivot("TASK_NAME").sum("TASK_DAYS_OPEN")
      .orderBy("RCP_PROJECT_TITLE").collect()
    assert(pivoted(0).getLong(1) == 7L && pivoted(0).getLong(2) == 5L)   // P1: Budget 7, Review 5
    assert(pivoted(1).getLong(1) == 2L && pivoted(1).getLong(2) == 7L)   // P2: Budget 2, Review 3+4

    // partition-parallel read: same rows, multiple range slices
    val part = FileSources.jdbcPartitioned(spark, url, "StudyAnalytics",
      "TASK_DAYS_OPEN", 0L, 10L, 3)
    assert(part.rdd.getNumPartitions == 3)
    assert(part.count() == 5)

    // filter pushdown survives the JDBC boundary
    val filtered = FileSources.jdbc(spark, url, "StudyAnalytics")
      .filter(col("TASK_DAYS_OPEN") > 4)
    assert(filtered.count() == 2)

    // stripe balance on a dense, id-ordered key (the clustered-primary-
    // key layout range striping presumes): the planner makes n stripes,
    // none holds more than twice the mean, and the striped read equals
    // the single-connection read
    val nRows = 10000L
    spark.range(nRows)
      .select(col("id"), (xxhash64(col("id")) % 1000).cast("int").as("cat"))
      .coalesce(1).sortWithinPartitions("id")
      .write.option("batchsize", "10000").jdbc(url, "bigtab", new java.util.Properties())
    def checksum(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)),
      sum(xxhash64(col("id"), col("cat")).cast("decimal(38,0)"))).head()
    val single = checksum(FileSources.jdbc(spark, url, "bigtab"))
    assert(single.getLong(0) == nRows)
    for (n <- Seq(7, 16)) {
      val striped = FileSources.jdbcPartitioned(spark, url, "bigtab", "id", 0L, nRows, n)
      assert(striped.rdd.getNumPartitions == n, s"$n stripes planned as ${striped.rdd.getNumPartitions}")
      val rows = striped.groupBy(spark_partition_id()).count()
        .collect().map(_.getLong(1))
      assert(rows.length == n && rows.min > 0, s"$n stripes: ${rows.toSeq}")
      assert(rows.max <= 2L * (nRows / n), s"stripe imbalance at $n: ${rows.toSeq}")
      assert(checksum(striped) == single, s"$n-stripe read diverged")
    }
  }

  test("strictDate raises on unparseable input, passes nulls (C3)") {
    import graft.functions.Compat
    val ok = Seq("0125", null).toDF("t")
      .select(Compat.strictDate(col("t"), "MMyy").as("d")).collect()
    assert(ok(0).getTimestamp(0).toString.startsWith("2025-01-01"))
    assert(ok(1).isNullAt(0))
    val e = intercept[Exception] {
      Seq("13x5").toDF("t").select(Compat.strictDate(col("t"), "MMyy").as("d")).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("strictDate"), msg)
  }

  test("csvWithQuarantine: bad rows isolated with raw lines, clean rows typed") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("quar").toString
    Files.writeString(Paths.get(s"$dir/drop.csv"),
      "id,amount,when\n" +
        "1,10.5,2024-01-31\n" +
        "2,not-a-number,2024-02-29\n" +   // amount fails DoubleType
        "3,30.25,2024-03-31\n" +
        "oops,this,row,has,too,many,fields\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType),
      StructField("when", DateType)))
    val (clean, quarantined) = FileSources.csvWithQuarantine(
      spark, s"$dir/drop.csv", schema)
    assert(clean.columns.toSeq == Seq("id", "amount", "when"))
    assert(clean.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(quarantined.columns.toSeq == Seq("id", "amount", "when", "raw_line"))
    // the first triage question must WORK (a corrupt-column-only CSV
    // scan would throw QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    assert(quarantined.count() == 2 && clean.count() == 2)
    val bad = quarantined.collect().map(_.getAs[String]("raw_line"))
    assert(bad.length == 2, bad.mkString("; "))
    assert(bad.exists(_.contains("not-a-number")))
    assert(bad.exists(_.contains("too,many,fields")))
  }

  test("ndjsonWithQuarantine: malformed JSON isolated, clean rows typed") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("jquar").toString
    Files.writeString(Paths.get(s"$dir/drop.ndjson"),
      """{"id": 1, "amount": 10.5}""" + "\n" +
        """{"id": 2, "amount": """ + "\n" +   // truncated JSON
        """not json at all""" + "\n" +
        """{"id": 3, "amount": 30.25}""" + "\n" +
        "\n")                                  // blank line skipped, not quarantined
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType)))
    val (clean, quarantined) = FileSources.ndjsonWithQuarantine(
      spark, s"$dir/drop.ndjson", schema)
    assert(clean.columns.toSeq == Seq("id", "amount"))
    assert(clean.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(quarantined.count() == 2)
    val bad = quarantined.collect().map(_.getAs[String]("raw_line"))
    assert(bad.exists(_.contains("not json")) &&
      bad.exists(_.startsWith("""{"id": 2""")))
  }

  test("profileNumeric: one-pass per-column stats, null accounting, exact means") {
    import graft.operators.SchemaOps
    val df = Seq(
      (Some(1.0), Some(10L)), (Some(2.0), None), (Some(4.0), Some(30L))
    ).toDF("x", "y")
    val prof = SchemaOps.profileNumeric(df, Seq("x", "y"))
      .orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(prof.toSeq == Seq(
      ("x", 3L, 0L, 1.0, 4.0, 7.0 / 3),
      ("y", 3L, 1L, 10.0, 30.0, 20.0)), prof.toSeq.toString)
  }

  test("sequentialRowIds continue across frames (P5)") {
    val a = Seq("x", "y").toDF("s")
    val b = Seq("z").toDF("s")
    val Seq(wa, wb) = Joins.sequentialRowIds(Seq(a, b), Seq(col("s")))
    assert(wa.select("row_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(wb.select("row_id").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("events entry path survives BOTH driver timestamp encodings (nanos + naive micros)") {
    // The driver regenerates testdata each round with an unstable parquet
    // timestamp encoding: older drops used TIMESTAMP(NANOS) (Spark reads
    // long under the nanosAsLong pin; Tables.events div-converts), newer
    // drops naive micros (isAdjustedToUTC=false), which without the
    // inferTimestampNTZ=false pin would read as TIMESTAMP_NTZ and break
    // unix_millis/watermarks. The round-9 regeneration broke 8 suites
    // this way; these checked-in pyarrow fixtures (one per encoding,
    // identical instants) pin the whole entry path — session confs +
    // Tables.events conversion — against the next silent flip.
    import org.apache.spark.sql.types.TimestampType
    val expected = (0 until 10).map(i => 1700000000000L + i * 3600000L)
    for (enc <- Seq("nanos", "micros_ntz")) {
      val df = Tables.events(spark, s"src/test/resources/tsfixtures/$enc")
      assert(df.schema("ts").dataType == TimestampType,
        s"$enc: ts must surface as TimestampType, got ${df.schema("ts").dataType}")
      val got = df.orderBy("event_id")
        .select(unix_millis(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(got == expected, s"$enc: instants drifted: $got")
    }
  }
}
