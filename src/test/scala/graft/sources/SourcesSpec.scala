package graft.sources

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class CsvIngestSpec extends SparkSpec {
  test("permissive ingest splits well-formed from malformed") {
    // render a slice of lineitem to CSV, corrupt some rows, re-ingest
    val dir = Files.createTempDirectory("graft_csv_spec").toString
    val li = table("lineitem").filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    // corrupt: append rows with a non-numeric quantity
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).head
    val w = new java.io.FileWriter(f, true)
    w.write("999,not_a_number,X\n999,alsobad,Y\n"); w.close()
    // the append invalidates Hadoop's .crc sidecar — drop it
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())

    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    val df = CsvIngest.read(spark, dir, schema).cache()
    assert(CsvIngest.malformed(df).count() === 2)
    assert(CsvIngest.wellFormed(df).count() === li.count())
    assert(CsvIngest.malformed(df).columns.contains("RetentionDate"))
    val audited = CsvIngest.withIngestAudit(df)
    assert(audited.columns.toSet.intersect(
      Set("IngestedAt", "SourceFile", "ProcessBatchID")).size === 3)
  }
}

class WatermarkSpec extends SparkSpec {
  test("watermark roundtrip + incremental filter") {
    val p = Files.createTempDirectory("graft_wm").toString + "/watermarks/Watermark.json"
    assert(Watermark.read(p) === Instant.EPOCH) // missing -> epoch
    val wm = Instant.parse("1996-01-01T00:00:00Z")
    Watermark.write(p, wm)
    assert(Watermark.read(p) === wm)
    val o = table("orders")
    val newer = Watermark.newerThan(o, col("o_orderdate"), wm)
    val expected = o.filter(col("o_orderdate") > lit("1996-01-01").cast(TimestampType))
    assert(newer.count() === expected.count())
    assert(newer.count() > 0 && newer.count() < o.count())
  }
}

class BucketingSpec extends SparkSpec {
  test("bucketed tables join with zero shuffle exchanges") {
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      // force a shuffle-based join path so the assertion is about
      // bucketing, not broadcast; plain plan (no AQE wrapper) for
      // stable text matching
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
      table("lineitem").select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bkt")
      table("orders").select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("o_bkt")
      val j = spark.table("li_bkt").join(spark.table("o_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      assert(j.count() === table("lineitem").count())
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }
}

class PartitionedLakeSpec extends SparkSpec {
  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.functions._

  test("day-partitioned lake: planning-time pruning, bounded files, lossless") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val events = Tables.loadEvents(spark, sfDir)
    PartitionedLake.writeByDay(events, dir, col("ts"))
    val lake = PartitionedLake.read(spark, dir)
    // lossless round trip (dt is derived, data columns unchanged)
    assert(lake.count() === events.count())
    assert(lake.select("event_id").distinct().count()
      === events.select("event_id").distinct().count())
    // one file per day directory (the repartition bounds task fan-out)
    // partition-column type inference reads dt back as DATE
    val days = lake.select("dt").distinct().collect().map(_.get(0).toString)
    days.foreach { d =>
      val files = new java.io.File(s"$dir/dt=$d")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"day $d has $files files")
    }
    // a dt filter prunes partitions at PLANNING time: the scan lists
    // only the matching day's files
    val oneDay = lake.filter(col("dt") === days.min)
    val scan = oneDay.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("dt"),
      s"no partition filter in: ${scan.metadata("PartitionFilters")}")
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount}")
    assert(oneDay.count() ===
      events.filter(date_format(col("ts"), "yyyy-MM-dd") === days.min).count())
  }

  test("filesPerDay > 1 actually spreads a day over multiple files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lake-fpd").toString
    val events = Tables.loadEvents(spark, sfDir)
    PartitionedLake.writeByDay(events, dir, col("ts"), filesPerDay = 3)
    val lake = PartitionedLake.read(spark, dir)
    assert(lake.count() === events.count())
    val days = lake.select("dt").distinct().collect().map(_.get(0).toString)
    val perDay = days.map { d =>
      new java.io.File(s"$dir/dt=$d")
        .listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(perDay.forall(_ <= 3), s"a day exceeded filesPerDay: ${perDay.toSeq}")
    assert(perDay.exists(_ > 1),
      s"salting never split any day — the knob is dead again: ${perDay.toSeq}")
  }

  test("salt is deterministic and analysis-safe with MapType + duplicate rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lake-map").toString
    // a MapType column (hash() would fail analysis on it) plus fully
    // duplicated rows: the content-hash salt must skip the map, write
    // fine, and stay within the file bound
    val rows = (0 until 60).map(i =>
      (i % 5L, s"2024-03-0${1 + i % 2} 10:00:00", Map("k" -> (i % 3))))
    val df = rows.toDF("id", "tss", "attrs")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    PartitionedLake.writeByDay(df, dir, col("ts"), filesPerDay = 4)
    val lake = PartitionedLake.read(spark, dir)
    assert(lake.count() === 60L)
    val days = lake.select("dt").distinct().collect().map(_.get(0).toString)
    assert(days.length === 2)
    days.foreach { d =>
      val files = new java.io.File(s"$dir/dt=$d")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 4, s"day $d has $files files")
    }
    // the same frame written again salts IDENTICALLY (retry safety is
    // exactly this property: recomputation re-derives the same bucket)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-lake-map2").toString
    PartitionedLake.writeByDay(df, dir2, col("ts"), filesPerDay = 4)
    def layout(d: String) = PartitionedLake.read(spark, d)
      .groupBy(input_file_name(), col("dt")).count()
      .select("dt", "count").collect().map(_.toString).sorted.toSeq
    assert(layout(dir) === layout(dir2),
      "re-writing the same frame produced a different salt layout")
    // MapType at any nesting depth is excluded; everything else is safe
    import org.apache.spark.sql.types._
    assert(!PartitionedLake.hashSafe(MapType(StringType, IntegerType)))
    assert(!PartitionedLake.hashSafe(ArrayType(MapType(StringType, IntegerType))))
    assert(!PartitionedLake.hashSafe(
      StructType(Seq(StructField("m", MapType(StringType, IntegerType))))))
    assert(PartitionedLake.hashSafe(ArrayType(StructType(Seq(
      StructField("x", DecimalType(18, 4)))))))
  }
}

class TablesSpec extends SparkSpec {
  test("snapshot compaction: one file, same data, old versions pruned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    SnapshotStore.mergeInto(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(4), dir, Seq("id"))
    SnapshotStore.mergeInto(
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v").repartition(4), dir, Seq("id"))
    val before = SnapshotStore.read(spark, dir).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val v = SnapshotStore.compact(spark, dir, numFiles = 1, retain = 1)
    assert(v.contains(2))
    assert(SnapshotStore.currentVersion(dir).contains(2))
    val after = SnapshotStore.read(spark, dir).get
    assert(after.collect().map(r => (r.getLong(0), r.getString(1))).toSet == before)
    assert(after.inputFiles.length == 1, "compacted to one file")
    val dirs = new java.io.File(dir).list().filter(_.startsWith("v=")).sorted
    assert(dirs.toSeq == Seq("v=1", "v=2"), s"old versions pruned, got ${dirs.toSeq}")
  }

  test("readVersion: time-travel to a retained version, retention respected") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-timetravel").toString
    // no commits yet: nothing to read at any version
    assert(SnapshotStore.readVersion(spark, dir, 0).isEmpty)
    SnapshotStore.mergeInto(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, Seq("id"))
    SnapshotStore.mergeInto(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), dir, Seq("id"))
    // v-1 is the pre-MERGE state — diffing a bad batch reads this
    val v0 = SnapshotStore.readVersion(spark, dir, 0).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v0 == Set((1L, "a"), (2L, "b")))
    val v1 = SnapshotStore.readVersion(spark, dir, 1).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v1 == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // ahead of the pointer and negative: not readable
    assert(SnapshotStore.readVersion(spark, dir, 2).isEmpty)
    assert(SnapshotStore.readVersion(spark, dir, -1).isEmpty)
    // compaction prunes versions behind the retained window: v0 gone,
    // the retained v1 still time-travels, the compacted v2 reads
    assert(SnapshotStore.compact(spark, dir, numFiles = 1, retain = 1).contains(2))
    assert(SnapshotStore.readVersion(spark, dir, 0).isEmpty)
    assert(SnapshotStore.readVersion(spark, dir, 1).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == v1)
    assert(SnapshotStore.readVersion(spark, dir, 2).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == v1)
  }

  test("changes: insert/update/delete feed between versions; schema drift safe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf").toString
    SnapshotStore.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    // v1: 2 updated, 3 deleted, 4 inserted, 1 untouched
    SnapshotStore.commit(
      Seq((1L, "a"), (2L, "b2"), (4L, "d")).toDF("id", "v"), dir)
    val feed = SnapshotStore.changes(spark, dir, 0, 1, Seq("id")).get
      .select("id", "v", "change_type").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    assert(feed === Set(
      (2L, Some("b2"), "update_postimage"),
      (3L, None, "delete"),
      (4L, Some("d"), "insert")))
    // a version gained a column: only rows where it is non-null (or
    // otherwise changed) count as updates
    SnapshotStore.mergeInto(
      Seq((4L, "d", 9L)).toDF("id", "v", "extra"), dir, Seq("id"))
    val drift = SnapshotStore.changes(spark, dir, 1, 2, Seq("id")).get
      .select("id", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(drift === Set((4L, "update_postimage")))
    // unreadable versions: None, not an exception
    assert(SnapshotStore.changes(spark, dir, 0, 9, Seq("id")).isEmpty)
  }

  test("mergeInto survives schema evolution: batch gains a column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    SnapshotStore.mergeInto(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, Seq("id"))
    // second batch adds `lang`: upsert of id=2, insert of id=3
    SnapshotStore.mergeInto(
      Seq((2L, "b2", "en"), (3L, "c", "fr")).toDF("id", "v", "lang"),
      dir, Seq("id"))
    val rows = SnapshotStore.read(spark, dir).get
      .select("id", "v", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("-"))).toSet
    assert(rows == Set((1L, "a", "-"), (2L, "b2", "en"), (3L, "c", "fr")))
    // and a batch MISSING a column also merges (null-filled)
    SnapshotStore.mergeInto(Seq((4L, "d")).toDF("id", "v"), dir, Seq("id"))
    val r4 = SnapshotStore.read(spark, dir).get
      .filter(col("id") === 4L).select("lang").collect()
    assert(r4.length == 1 && r4.head.isNullAt(0))
    // strict mode still fails fast on drift
    intercept[org.apache.spark.sql.AnalysisException] {
      SnapshotStore.mergeInto(Seq((5L, "e", 1.0)).toDF("id", "v", "score"),
        dir, Seq("id"), evolveSchema = false)
    }
  }

  test("replaceGroups: a re-submitted group fully replaces, shrink included") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-replace").toString
    // bootstrap: q1 has 3 ranks, q2 has 2
    SnapshotStore.replaceGroups(
      Seq(("q1", 1, 10L), ("q1", 2, 11L), ("q1", 3, 12L),
        ("q2", 1, 20L), ("q2", 2, 21L)).toDF("query_id", "rank", "doc_id"),
      dir, Seq("query_id"))
    // q1 re-submitted with a SHORTER hit list: rank 3 must vanish
    SnapshotStore.replaceGroups(
      Seq(("q1", 1, 13L)).toDF("query_id", "rank", "doc_id"),
      dir, Seq("query_id"))
    val rows = SnapshotStore.read(spark, dir).get.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows === Set(("q1", 1, 13L), ("q2", 1, 20L), ("q2", 2, 21L)),
      s"stale ranks lingered: $rows")
    // replay idempotence: replacing a group with itself changes nothing
    SnapshotStore.replaceGroups(
      Seq(("q1", 1, 13L)).toDF("query_id", "rank", "doc_id"),
      dir, Seq("query_id"))
    assert(SnapshotStore.read(spark, dir).get.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet === rows)
    // keySource: a group whose re-computation returned ZERO rows is
    // still cleared — keys derived from the (empty) result rows alone
    // could never delete it
    SnapshotStore.replaceGroups(
      Seq.empty[(String, Int, Long)].toDF("query_id", "rank", "doc_id"),
      dir, Seq("query_id"),
      keySource = Some(Seq(Tuple1("q1")).toDF("query_id")))
    assert(SnapshotStore.read(spark, dir).get.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet ===
      Set(("q2", 1, 20L), ("q2", 2, 21L)))
  }

  test("deleteWhere/updateWhere: Delta DELETE/UPDATE semantics with versioning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-delupd").toString
    SnapshotStore.commit(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
        .toDF("id", "k", "v"), dir)
    // UPDATE ... SET v = v * 2, k = 'x' WHERE k = 'a' — assignments
    // see the ORIGINAL row (cond on k while k is being assigned)
    assert(SnapshotStore.updateWhere(spark, dir, col("k") === "a",
      Map("v" -> (col("v") * 2), "k" -> lit("x"))).contains(1))
    val afterU = SnapshotStore.read(spark, dir).get.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(afterU === Seq((1L, "x", 20.0), (2L, "b", 20.0), (3L, "x", 60.0)))
    // DELETE WHERE v >= 60
    assert(SnapshotStore.deleteWhere(spark, dir, col("v") >= 60).contains(2))
    assert(SnapshotStore.read(spark, dir).get.count() === 2L)
    // time travel still sees the pre-delete state
    assert(SnapshotStore.readVersion(spark, dir, 1).get.count() === 3L)
    // CDF reports the delete
    val ch = SnapshotStore.changes(spark, dir, 1, 2, Seq("id")).get
      .filter(col("change_type") === "delete").collect()
    assert(ch.length === 1 && ch.head.getAs[Long]("id") === 3L)
    // unknown column fails fast; missing store is None
    intercept[IllegalArgumentException] {
      SnapshotStore.updateWhere(spark, dir, lit(true), Map("zz" -> lit(1)))
    }
    assert(SnapshotStore.deleteWhere(spark, dir + "/nope", lit(true)).isEmpty)
  }

  test("LakehouseTable seam: SnapshotTable is exact SnapshotStore parity") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lht").toString
    val t: LakehouseTable = SnapshotTable(dir)
    assert(t.read(spark).isEmpty)
    t.mergeInto(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v"),
      Seq("id"))
    t.mergeInto(Seq((2L, "b2", 25.0), (3L, "c", 30.0)).toDF("id", "k", "v"),
      Seq("id"))
    assert(t.read(spark).get.count() === 3L)
    assert(t.updateWhere(spark, col("k") === "a",
      Map("v" -> (col("v") + 1))).contains(2))
    assert(t.deleteWhere(spark, col("v") >= 30).contains(3))
    // the trait surface and direct SnapshotStore calls see ONE table
    assert(t.read(spark).get.collect().map(_.toString).sorted.toSeq ===
      SnapshotStore.read(spark, dir).get.collect().map(_.toString).sorted.toSeq)
    assert(t.readVersion(spark, 1).get.count() === 3L)
    val ch = t.changes(spark, 2, 3, Seq("id")).get.collect()
    assert(ch.length === 1 && ch.head.getAs[String]("change_type") === "delete")
    assert(t.compact(spark, numFiles = 1).contains(4))
    assert(t.read(spark).get.count() === 2L)
  }

  test("deleteWhere: NULL-predicate rows survive (SQL three-valued DELETE)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-delnull").toString
    SnapshotStore.commit(
      Seq((1L, Some(10.0)), (2L, None), (3L, Some(70.0)))
        .toDF("id", "v"), dir)
    // v >= 60 is NULL for id=2 — SQL DELETE only removes definitively
    // TRUE rows, so id=2 must survive (updateWhere already no-ops it)
    assert(SnapshotStore.deleteWhere(spark, dir, col("v") >= 60).contains(1))
    assert(SnapshotStore.read(spark, dir).get.select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("all testdata tables load; events gets a usable timestamp") {
    Tables.names.filter(_ != "events").foreach { n =>
      assert(Tables.load(spark, sfDir, n).count() > 0, n)
    }
    val ev = Tables.loadEvents(spark, sfDir)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.count() > 0)
  }
}

class BucketedStoreCarrySpec extends SparkSpec {
  import graft.sources.BucketedStore
  import graft.sources.BucketedStore.{Carry, Layout, Member}

  private val Store = Layout("test", Seq(Member("data", Seq("k")), Member("plan")))

  private def data = {
    import spark.implicits._
    (0 until 64).map(i => (i.toLong, s"p$i")).toDF("k", "pay")
  }
  private def planDf(n: Int) = {
    import spark.implicits._
    Seq(n).toDF("n")
  }

  test("carried members: views, stable content, retention keeps the backing table") {
    val name = "bscarry"
    Store.drop(spark, name)
    try {
      val v0 = Store.commit(spark, name,
        Map("data" -> data, "plan" -> planDf(0)), buckets = 4)
      assert(v0 == 0)
      // three consecutive carried commits: v1..v3 rewrite only plan;
      // the chain must resolve to v0's physical table, never stack views
      (1 to 3).foreach { i =>
        val v = Store.commit(spark, name, Map("plan" -> planDf(i)),
          buckets = 4, carry = Seq(Carry("data", i - 1)))
        assert(v == i)
      }
      // carried member is a view; content identical to the original
      assert(spark.catalog.getTable(s"${name}_data_v3").tableType == "VIEW")
      assert(Store.at(spark, name, 3).table("data").orderBy("k")
        .collect().toSeq == data.orderBy("k").collect().toSeq)
      // retention: v0's PHYSICAL data table must survive (the retained
      // versions' views resolve to it) even though version 0 is behind
      // the retention window; version 1's view and plan tables drop
      assert(spark.catalog.tableExists(s"${name}_data_v0"))
      assert(!spark.catalog.tableExists(s"${name}_plan_v0"))
      assert(!spark.catalog.tableExists(s"${name}_data_v1"))
      // bucketing survives the carried view: groupBy on the bucket key
      // over the v3 view plans no shuffle
      val conf = spark.conf
      val oldAqe = conf.get("spark.sql.adaptive.enabled")
      try {
        conf.set("spark.sql.adaptive.enabled", "false")
        val agg = Store.at(spark, name, 3).table("data")
          .groupBy("k").count()
        val plan = agg.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
        assert(agg.count() == 64)
      } finally conf.set("spark.sql.adaptive.enabled", oldAqe)
      // fresh WRITES of data at v4/v5: the old physical finally drops
      // once no retained version references it
      Store.commit(spark, name, Map("data" -> data, "plan" -> planDf(4)),
        buckets = 4)
      Store.commit(spark, name, Map("data" -> data, "plan" -> planDf(5)),
        buckets = 4)
      assert(!spark.catalog.tableExists(s"${name}_data_v0"))
      assert(!spark.catalog.tableExists(s"${name}_data_v3"))
      assert(Store.pin(spark, name).table("data").count() == 64)
    } finally Store.drop(spark, name)
  }

  test("layout commit refuses a member that is neither written nor carried") {
    val name = "bsmissing"
    Store.drop(spark, name)
    try {
      val e = intercept[IllegalArgumentException](
        Store.commit(spark, name, Map("plan" -> planDf(0)), buckets = 4))
      assert(e.getMessage.contains("'data' is neither written nor carried"))
      assert(BucketedStore.currentVersion(spark, name).isEmpty)
      val e2 = intercept[IllegalStateException](Store.pin(spark, name))
      assert(e2.getMessage == s"no test index named $name")
    } finally Store.drop(spark, name)
  }

  test("a carried view whose body names no older member table is corrupt") {
    val name = "bsforeign"
    Store.drop(spark, name)
    try {
      Store.commit(spark, name, Map("data" -> data, "plan" -> planDf(0)),
        buckets = 4)
      Store.commit(spark, name, Map("plan" -> planDf(1)), buckets = 4,
        carry = Seq(Carry("data", 0)))
      assert(Store.pin(spark, name).backingVersion("data") == 0)
      // hand-replace the carried view with a foreign body: stepping
      // down to v0's physical table would serve different content
      spark.sql(s"DROP VIEW ${name}_data_v1")
      spark.sql(s"CREATE VIEW ${name}_data_v1 AS " +
        "SELECT CAST(1 AS BIGINT) AS k, 'x' AS pay")
      val e = intercept[IllegalStateException](
        Store.pin(spark, name).physicalTable("data"))
      assert(e.getMessage.contains("store is corrupt"), e.getMessage)
    } finally Store.drop(spark, name)
  }

  test("a session temp view named like a convenience view survives a commit") {
    val name = "bstemp"
    Store.drop(spark, name)
    spark.range(3).createOrReplaceTempView(s"${name}_data")
    try {
      Store.commit(spark, name, Map("data" -> data, "plan" -> planDf(0)),
        buckets = 4)
      Store.commit(spark, name, Map("plan" -> planDf(1)), buckets = 4,
        carry = Seq(Carry("data", 0)))
      // the temp view is untouched; the store's convenience view sits
      // beside it in the current database
      assert(spark.table(s"${name}_data").columns.toSeq == Seq("id"))
      assert(spark.table(s"${name}_data").count() == 3)
      val db = spark.catalog.currentDatabase
      assert(spark.table(s"$db.${name}_data").count() == 64)
      Store.drop(spark, name)
      assert(spark.table(s"${name}_data").count() == 3)
      assert(!spark.catalog.tableExists(db, s"${name}_data"))
    } finally {
      spark.catalog.dropTempView(s"${name}_data")
      Store.drop(spark, name)
    }
  }

  test("a temp view named like the pointer is not a store") {
    val name = "bstempptr"
    Store.drop(spark, name)
    spark.sql(s"CREATE OR REPLACE TEMP VIEW ${name}_ptr AS SELECT 7 AS version")
    try assert(BucketedStore.currentVersion(spark, name).isEmpty)
    finally spark.catalog.dropTempView(s"${name}_ptr")
  }

  test("a temp view named like a member is neither read nor dropped") {
    val name = "bstempmember"
    val WithExtra = Layout("test", Store.members :+ Member("extra", optional = true))
    WithExtra.drop(spark, name)
    try {
      WithExtra.commit(spark, name, Map("data" -> data, "plan" -> planDf(0)),
        buckets = 4)
      Seq("data", "extra").foreach(sfx =>
        spark.range(3).createOrReplaceTempView(s"${name}_${sfx}_v0"))
      val p = WithExtra.pin(spark, name)
      assert(p.table("data").columns.toSeq == Seq("k", "pay"))
      assert(p.table("data").count() == 64)
      assert(p.has("data") && !p.has("extra"))
      WithExtra.commit(spark, name, Map("plan" -> planDf(1)), buckets = 4,
        carry = p.carry("data", "extra"))
      assert(WithExtra.pin(spark, name).table("data").count() == 64)
      WithExtra.drop(spark, name)
      assert(spark.table(s"${name}_data_v0").count() == 3)
      assert(spark.table(s"${name}_extra_v0").count() == 3)
    } finally {
      Seq("data", "extra").foreach(sfx =>
        spark.catalog.dropTempView(s"${name}_${sfx}_v0"))
      WithExtra.drop(spark, name)
    }
  }

  test("a hand-made pointer resolves through the executing fallback") {
    val name = "bshandptr"
    Store.drop(spark, name)
    try {
      Store.commit(spark, name, Map("data" -> data, "plan" -> planDf(0)),
        buckets = 4)
      Store.commit(spark, name, Map("data" -> data, "plan" -> planDf(1)),
        buckets = 4)
      spark.sql(s"CREATE OR REPLACE VIEW ${name}_ptr AS SELECT 1 + 0 AS version")
      assert(BucketedStore.currentVersion(spark, name).contains(1))
      assert(Store.pin(spark, name).table("plan").head().getInt(0) == 1)
      assert(Store.commit(spark, name, Map("plan" -> planDf(2)), buckets = 4,
        carry = Seq(Carry("data", 1))) == 2)
    } finally Store.drop(spark, name)
  }

  test("a failed member write publishes nothing; the next commit succeeds") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val name = "bsfail"
    Store.drop(spark, name)
    try {
      Store.commit(spark, name, Map("data" -> data, "plan" -> planDf(0)),
        buckets = 4)
      val bad = data.select(col("k"),
        when(col("k") === 5, raise_error(lit("boom"))).otherwise(col("pay"))
          .as("pay"))
      intercept[Exception](Store.commit(spark, name,
        Map("data" -> bad, "plan" -> planDf(1)), buckets = 4))
      assert(BucketedStore.currentVersion(spark, name).contains(0))
      assert(Store.pin(spark, name).table("plan").head().getInt(0) == 0)
      assert(Store.commit(spark, name,
        Map("data" -> data, "plan" -> planDf(1)), buckets = 4) == 1)
      val p = Store.pin(spark, name)
      assert(p.table("data").count() == 64)
      assert(p.table("plan").head().getInt(0) == 1)
    } finally Store.drop(spark, name)
  }
}
