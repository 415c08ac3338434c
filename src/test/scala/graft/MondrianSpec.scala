package graft

import org.apache.spark.sql.functions._

import graft.operators.Mondrian

/** Laws of grid-snapped Mondrian: the k guarantee, the hand-checked cut
  * tree on a line, widest-attr choice, strict-cut retirement, pid as a
  * pure function of the band tuple, row conservation, determinism, and
  * the fail-fasts.
  */
class MondrianSpec extends SparkSpec {
  import spark.implicits._

  test("hand-checked line: 8 uniform points, k=2 -> four boxes of 2") {
    val df = (0L until 8L).map(b => (b, b)).toDF("id", "b")
    val out = Mondrian.anonymize(df, Seq("b"), 2L, 4)
    assert(out.count() === 8L)
    assert(out.filter(!col("ok")).count() === 0L)
    val boxes = out.select("b_lo", "b_hi", "cell_n").distinct()
      .as[(Long, Long, Long)].collect().toSet
    assert(boxes === Set((0L, 1L, 2L), (2L, 3L, 2L), (4L, 5L, 2L), (6L, 7L, 2L)))
    // the cut tree: round 1 splits at band 3 (left = {0..3}), round 2
    // splits each half — every row's box contains its own band
    val bad = out.filter(col("b") < col("b_lo") || col("b") > col("b_hi")).count()
    assert(bad === 0L)
  }

  test("every final partition satisfies k; rows conserved; pid is a function of the band tuple") {
    val cust = sources.Tables.load(spark, Sf001, "customer")
      .select(
        col("c_custkey"),
        (floor(col("c_acctbal") / 1000.0)).cast("long").as("bal_b"),
        col("c_nationkey").cast("long").as("nat_b")
      )
    val k = 25L
    val out = Mondrian.anonymize(cust, Seq("bal_b", "nat_b"), k, 8).persist()
    assert(out.count() === cust.count(), "rows never dropped")
    val sizes = out.groupBy("pid").agg(count(lit(1)).as("n"), max(col("cell_n")).as("cn"))
    assert(sizes.filter(col("n") < k).count() === 0L, "every partition >= k")
    assert(sizes.filter(col("n") =!= col("cn")).count() === 0L, "cell_n is the true size")
    assert(out.filter(!col("ok")).count() === 0L)
    assert(out.select("pid").distinct().count() > 1L, "the table actually splits")
    // identical band tuples share a pid (generalization is well-defined)
    val fn = out.groupBy("bal_b", "nat_b").agg(countDistinct(col("pid")).as("np"))
    assert(fn.filter(col("np") > 1).count() === 0L)
    // bounding boxes contain their rows
    assert(out.filter(col("bal_b") < col("bal_b_lo") || col("bal_b") > col("bal_b_hi")).count() === 0L)
    out.unpersist()
    ()
  }

  test("widest attr is cut first; ties break to column order") {
    // attr a spans 2 bands, attr b spans 8 -> the first cut must narrow b
    val df = (0L until 16L).map(i => (i, i % 2, i % 8)).toDF("id", "a", "b")
    val out = Mondrian.anonymize(df, Seq("a", "b"), 4L, 1)
    val boxes = out.select("a_lo", "a_hi", "b_lo", "b_hi").distinct()
      .as[(Long, Long, Long, Long)].collect().toSet
    // one round: b cut at its median band 3 -> full a-range, halved b-range
    assert(boxes === Set((0L, 1L, 0L, 3L), (0L, 1L, 4L, 7L)))
  }

  test("strict cut retires a partition the median would unbalance below k") {
    // bands: five at 0, one at 9; k=2 -> median cut at band 0 leaves
    // right side of 1 < k: no allowable cut, single retired partition
    val df = (Seq.fill(5)(0L) :+ 9L).zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "b")
    val out = Mondrian.anonymize(df, Seq("b"), 2L, 4)
    assert(out.select("pid").distinct().count() === 1L)
    assert(out.filter(!col("ok")).count() === 0L, "6 >= k: the retired partition still satisfies k")
    val box = out.select("b_lo", "b_hi").distinct().as[(Long, Long)].collect().toSeq
    assert(box === Seq((0L, 9L)))
  }

  test("utilityReport: hand-checked metrics on the line fixture") {
    val df = (0L until 8L).map(b => (b, b)).toDF("id", "b")
    val anon = Mondrian.anonymize(df, Seq("b"), 2L, 4)
    val r = Mondrian.utilityReport(anon, Seq("b")).head
    // 4 partitions of 2: discernibility 4·2² = 16, avg 2000 milli,
    // width 2 bands = 2000 milli
    assert(r.getLong(0) === 8L)   // n_rows
    assert(r.getLong(1) === 4L)   // n_partitions
    assert(r.getLong(2) === 2L)   // min_cell
    assert(r.getLong(3) === 2000L) // avg_cell_milli
    assert(r.getLong(4) === 16L)  // discernibility
    assert(r.getLong(5) === 2000L) // b_width_milli
    intercept[IllegalArgumentException](Mondrian.utilityReport(anon, Seq.empty))
  }

  test("determinism under repartitioning") {
    val df = (0L until 200L).map(i => (i, (i * 37L) % 16L, (i * 53L) % 10L)).toDF("id", "a", "b")
    val x = Mondrian.anonymize(df, Seq("a", "b"), 10L, 6)
      .select("id", "pid", "a_lo", "a_hi", "b_lo", "b_hi").collect().toSet
    val y = Mondrian.anonymize(df.repartition(13), Seq("a", "b"), 10L, 6)
      .select("id", "pid", "a_lo", "a_hi", "b_lo", "b_hi").collect().toSet
    assert(x === y)
  }

  test("regime equality: driver histogram recursion == distributed cut loop, row for row") {
    // the driver path keys every decision off the joint band histogram;
    // disabling it runs the distributed per-round loop — both must
    // produce the identical (id, pid, boxes, cell_n, ok) frame
    val df = (0L until 300L).map(i => (i, (i * 37L) % 16L, (i * 53L) % 10L)).toDF("id", "a", "b")
    def boxes() = Mondrian.anonymize(df, Seq("a", "b"), 7L, 6)
      .select("id", "pid", "cell_n", "a_lo", "a_hi", "b_lo", "b_hi", "ok")
      .collect().toSet
    assert(boxes() === withDriverRegimeOff(boxes()))
  }

  test("fail-fasts: NULL band, bad params") {
    val withNull = Seq((1L, Some(1L)), (2L, None)).toDF("id", "b")
    val err = intercept[Exception](Mondrian.anonymize(withNull, Seq("b"), 1L, 1).count())
    assert(err.getMessage != null)
    val ok = Seq((1L, 1L)).toDF("id", "b")
    intercept[IllegalArgumentException](Mondrian.anonymize(ok, Seq.empty, 1L, 1))
    intercept[IllegalArgumentException](Mondrian.anonymize(ok, Seq("b"), 0L, 1))
    intercept[IllegalArgumentException](Mondrian.anonymize(ok, Seq("b"), 1L, 0))
  }
}
