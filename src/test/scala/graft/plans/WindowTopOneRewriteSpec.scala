package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.SparkSpec

class WindowTopOneRewriteSpec extends SparkSpec {

  private def naiveLatest(df: DataFrame) =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("l_orderkey")
          .orderBy(col("l_linenumber"), col("l_quantity"))))
      .filter(col("rn") === 1)

  private def rewritten(df: DataFrame): DataFrame =
    ColumnBridge.ofRows(spark,
      WindowTopOneRewrite(df.queryExecution.analyzed))

  test("rewrites rn=1 over row_number window into a min_by aggregate") {
    val li = table("lineitem")
    // md5 over the whole row makes the ordering total (identical full
    // rows tie, but then every admissible winner is the same row), so
    // the two forms must agree bit-for-bit
    val totalOrd = md5(concat_ws("|", li.columns.map(col).toSeq: _*))
    val q = li.withColumn("rn", row_number().over(
        Window.partitionBy("l_orderkey").orderBy(totalOrd)))
      .filter(col("rn") === 1)
    val out = rewritten(q)
    assert(out.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty)
    assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val expect = q.drop("rn").collect().map(_.toSeq).toSet
    val got = out.drop("rn").collect().map(_.toSeq).toSet
    assert(got == expect)
    assert(out.select("rn").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("under ordering ties the winner is admissible and row-atomic") {
    // (l_linenumber, l_quantity) ties within orders in this synthetic
    // data: the rewritten winner may differ from the window's pick, but
    // its ordering key must equal the per-key MINIMUM, and the row must
    // exist verbatim in the input (no per-column tearing)
    val li = table("lineitem")
    val out = rewritten(naiveLatest(li)).drop("rn")
    val minKeys = li.groupBy("l_orderkey")
      .agg(min(struct(col("l_linenumber"), col("l_quantity"))).as("m"))
      .select(col("l_orderkey"), col("m.l_linenumber"), col("m.l_quantity"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val gotKeys = out.select("l_orderkey", "l_linenumber", "l_quantity")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(gotKeys == minKeys)
    val input = li.collect().map(_.toSeq).toSet
    out.collect().map(_.toSeq).foreach(r => assert(input.contains(r), s"torn row $r"))
  }

  test("rewritten plan partial-aggregates before the exchange") {
    val p = rewritten(naiveLatest(table("lineitem")))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min_by"), s"expected map-side partials:\n$p")
    assert(!p.toLowerCase.contains("window"), s"window survived:\n$p")
  }

  test("nulls in an ordering key still rank first (nulls-first semantics)") {
    import spark.implicits._
    val df = Seq(
      (1L, Option.empty[Int], "null-wins"),
      (1L, Some(5), "loser"),
      (2L, Some(3), "only")).toDF("k", "o", "v")
      .withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy(col("o"))))
      .filter(col("rn") === 1)
    val out = rewritten(df)
    assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val got = out.select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "null-wins", 2L -> "only"))
  }

  test("rewrites the desc (latest-per-key) idiom into a max_by aggregate") {
    // the reference's own bronze dedup orders DESC
    // (NBclaims_bronze.Notebook/notebook-content.py:123-131); a total
    // ordering makes the two forms agree bit-for-bit
    val li = table("lineitem")
    val totalOrd = md5(concat_ws("|", li.columns.map(col).toSeq: _*))
    val q = li.withColumn("rn", row_number().over(
        Window.partitionBy("l_orderkey").orderBy(totalOrd.desc)))
      .filter(col("rn") === 1)
    val out = rewritten(q)
    assert(out.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty)
    assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val expect = q.drop("rn").collect().map(_.toSeq).toSet
    val got = out.drop("rn").collect().map(_.toSeq).toSet
    assert(got == expect)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_max_by"), s"expected map-side partials:\n$p")
  }

  test("nulls in a desc ordering key rank last (desc_nulls_last semantics)") {
    import spark.implicits._
    val df = Seq(
      (1L, Option.empty[Int], "null-loses"),
      (1L, Some(5), "five-wins"),
      (2L, Option.empty[Int], "only-null")).toDF("k", "o", "v")
      .withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy(col("o").desc)))
      .filter(col("rn") === 1)
    val out = rewritten(df)
    assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val got = out.select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "five-wins", 2L -> "only-null"))
  }

  test("does not fire on rank(), an interior rank, or a non-literal limit") {
    val li = table("lineitem")
    def unchanged(df: DataFrame): Unit = {
      val before = df.queryExecution.analyzed
      assert(WindowTopOneRewrite(before).collect { case w: LWindow => w }.nonEmpty,
        "guard should have kept the window")
    }
    unchanged(li.withColumn("rn", rank().over(
        Window.partitionBy("l_orderkey").orderBy(col("l_linenumber"))))
      .filter(col("rn") === 1))
    // rn = 2 selects a single INTERIOR rank, not a prefix
    unchanged(li.withColumn("rn", row_number().over(
        Window.partitionBy("l_orderkey").orderBy(col("l_linenumber"))))
      .filter(col("rn") === 2))
    unchanged(li.withColumn("rn", row_number().over(
        Window.partitionBy("l_orderkey").orderBy(col("l_linenumber"))))
      .filter(col("rn") <= col("l_linenumber")))
  }

  // ---- the rn <= k / TopKRows path --------------------------------- //

  private def naiveTopK(df: DataFrame, k: Int) =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("l_orderkey")
          .orderBy(col("l_quantity").desc, col("l_linenumber").asc)))
      .filter(col("rn") <= k)

  test("rn <= k rewrites to a bounded-heap aggregate, value-identical") {
    // mixed directions (desc, asc) — exactly the shape the min_by path
    // can't encode; (l_quantity, l_linenumber) is total within an
    // order, so the two forms must agree bit-for-bit, rn included
    val li = table("lineitem")
    val q = naiveTopK(li, 3)
    val out = rewritten(q)
    assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val expect = q.collect().map(_.toSeq).toSet
    val got = out.collect().map(_.toSeq).toSet
    assert(got == expect)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_graft_topk_rows"), s"expected map-side partials:\n$p")
    assert(!p.toLowerCase.contains("window"), s"window survived:\n$p")
  }

  test("rn = 1 with mixed directions now rewrites through TopKRows") {
    val li = table("lineitem")
    val q = naiveTopK(li, 1)
    val out = rewritten(q)
    assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(out.collect().map(_.toSeq).toSet == q.collect().map(_.toSeq).toSet)
  }

  test("non-default null orderings rank exactly as the window form") {
    import spark.implicits._
    val df = Seq(
      (1L, Option.empty[Int], "null"),
      (1L, Some(5), "five"),
      (1L, Some(3), "three"),
      (2L, Option.empty[Int], "only-null")).toDF("k", "o", "v")
    def check(ord: org.apache.spark.sql.Column, k: Int): Unit = {
      val q = df.withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(ord))).filter(col("rn") <= k)
      val out = rewritten(q)
      assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
        s"window survived for $ord")
      assert(out.collect().map(_.toSeq).toSet == q.collect().map(_.toSeq).toSet,
        s"value drift for $ord")
    }
    check(col("o").asc_nulls_last, 2)
    check(col("o").desc_nulls_first, 2)
    check(col("o").asc_nulls_last, 1)
  }

  test("global (partition-less) top-k rewrites; empty input yields empty output") {
    val li = table("lineitem")
    val q = li.withColumn("rn", row_number().over(
        Window.orderBy(col("l_quantity").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)))
      .filter(col("rn") <= 5)
    val out = rewritten(q)
    assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(out.collect().map(_.toSeq).toSet == q.collect().map(_.toSeq).toSet)
    // empty input: the ungrouped aggregate emits one empty-array row,
    // posexplode drops it — no fabricated all-null row
    val empty = rewritten(li.filter(col("l_orderkey") < 0)
      .withColumn("rn", row_number().over(Window.orderBy(col("l_linenumber"))))
      .filter(col("rn") <= 5))
    assert(empty.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(empty.count() == 0)
  }

  test("conjunctive filters: rank cut extracted, residuals reapplied") {
    // CombineFilters merges subsequent user filters into one And — the
    // rank conjunct must still be found and the rest kept
    val li = table("lineitem")
    def win = Window.partitionBy("l_orderkey")
      .orderBy(col("l_quantity").desc, col("l_linenumber")) // total per key
    val q = li.withColumn("rn", row_number().over(win))
      .filter(col("rn") <= 3 && col("l_quantity") > 10)
    val out = rewritten(q)
    assert(out.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(out.collect().map(_.toSeq).toSet == q.collect().map(_.toSeq).toSet)
    // pagination shape: both conjuncts are rank bounds; the k=3 cut is
    // enforced by the aggregate, rn >= 2 reapplies over the rebuilt rn
    val pag = li.withColumn("rn", row_number().over(win))
      .filter(col("rn") >= 2 && col("rn") <= 3)
    val out2 = rewritten(pag)
    assert(out2.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(out2.collect().map(_.toSeq).toSet == pag.collect().map(_.toSeq).toSet)
    assert(out2.select("rn").distinct().collect().map(_.getInt(0)).toSet == Set(2, 3))
  }

  test("fuzz: random data, direction mixes, and k match the window form exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dirs: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(_.asc, _.desc, _.asc_nulls_last, _.desc_nulls_first)
    for (trial <- 1 to 8) {
      val n = 50 + rnd.nextInt(150)
      val rows = (0 until n).map { i =>
        (rnd.nextInt(6).toLong,
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(10)),
          if (rnd.nextInt(7) == 0) None
          else Some(math.round(rnd.nextDouble() * 1000) / 10.0),
          i.toLong) // unique uid total-orders every partition
      }
      val df = rows.toDF("k", "o1", "o2", "uid")
      val (d1, d2) = (dirs(rnd.nextInt(4)), dirs(rnd.nextInt(4)))
      val k = 1 + rnd.nextInt(4)
      val w = Window.partitionBy("k")
        .orderBy(d1(col("o1")), d2(col("o2")), col("uid"))
      val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      val out = rewritten(q)
      assert(out.queryExecution.optimizedPlan
        .collect { case lw: LWindow => lw }.isEmpty, s"trial $trial kept a window")
      // total ordering => bit-exact row set INCLUDING the rn column
      assert(out.collect().map(_.toSeq).toSet == q.collect().map(_.toSeq).toSet,
        s"trial $trial (k=$k) diverged")
    }
  }

  test("a foreign WindowGroupLimit below the window is kept, not stripped") {
    import org.apache.spark.sql.catalyst.expressions.{RowNumber, SortOrder,
      Ascending, NullsFirst}
    import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
    // plant a WGL whose orderSpec does NOT match the window's: the rule
    // must not delete it (its limit semantics belong to someone else),
    // but may still rewrite the window above it
    val q = naiveLatest(table("lineitem"))
    val planted = q.queryExecution.analyzed.transformUp {
      case w: LWindow =>
        val foreignOrder = SortOrder(w.child.output.head, Ascending, NullsFirst, Seq.empty)
        w.copy(child = WindowGroupLimit(
          w.partitionSpec, Seq(foreignOrder), RowNumber(), 7, w.child))
    }
    val out = WindowTopOneRewrite(planted)
    assert(out.collect { case g: WindowGroupLimit => g }.nonEmpty,
      s"foreign WindowGroupLimit was stripped:\n$out")
    assert(out.collect { case w: LWindow => w }.isEmpty,
      "window itself should still rewrite (input unchanged either way)")
  }
}
