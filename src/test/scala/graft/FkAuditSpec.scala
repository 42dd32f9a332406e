package graft


import org.scalatest.funsuite.AnyFunSuite

/** q152 on a deliberately broken star: the shipped tables are clean
  * (all-zero orphan columns at every SF), so this injects every defect
  * class the audit exists to catch — an orphan fact key, an orphan dim
  * key, a NULL FK, and childless parents on both fact and dim edges —
  * and checks the exact six-column row per edge. */
class FkAuditSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private lazy val dir: String = {
    import s.implicits._
    val d = TestSpark.tempDir("graft_fk_audit").toString
    // each column takes its table's declared type, as in the shipped files
    def w(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val t = graft.model.Tables.schema(name)
      df.select(df.columns.toSeq.map(c => df(c).cast(t(c).dataType).as(c)): _*)
        .coalesce(1).write.parquet(s"$d/$name.parquet")
    }
    w("region", Seq(Tuple1(1L)).toDF("r_regionkey"))
    // nation 2 points at region 99 (orphan dim key)
    w("nation", Seq((1L, 1L), (2L, 99L)).toDF("n_nationkey", "n_regionkey"))
    w("customer", Seq((1L, 1L), (2L, 2L)).toDF("c_custkey", "c_nationkey"))
    w("supplier", Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey"))
    // part 2 is never ordered (childless parent)
    w("part", Seq(Tuple1(1L), Tuple1(2L)).toDF("p_partkey"))
    // order 2 belongs to customer 77 (orphan); order 2 has no lineitems
    w("orders", Seq((1L, 1L), (2L, 77L)).toDF("o_orderkey", "o_custkey"))
    // lineitem row 2 references order 5 (orphan), row 3 has a NULL FK
    w("lineitem", Seq(
      (Option(1L), 1L, 1L),
      (Option(5L), 1L, 1L),
      (Option.empty[Long], 1L, 1L)
    ).toDF("l_orderkey", "l_partkey", "l_suppkey"))
    d
  }

  test("q152 reports orphans, nulls, and childless parents per FK edge") {
    val got = SparkEntry.queries("q152_fk_audit")(s, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val want = Seq(
      ("customer.c_nationkey -> nation", 2L, 0L, 2L, 0L, 0L),
      ("lineitem.l_orderkey -> orders", 3L, 1L, 2L, 1L, 1L),
      ("lineitem.l_partkey -> part", 3L, 0L, 1L, 0L, 1L),
      ("lineitem.l_suppkey -> supplier", 3L, 0L, 1L, 0L, 0L),
      ("nation.n_regionkey -> region", 2L, 0L, 2L, 1L, 0L),
      ("orders.o_custkey -> customer", 2L, 0L, 2L, 1L, 1L),
      ("supplier.s_nationkey -> nation", 1L, 0L, 1L, 0L, 1L))
    assert(got.toSeq === want)
  }

  test("the shipped sf0.01 star is clean: zero orphans, zero nulls on " +
      "every edge") {
    val got = SparkEntry.queries("q152_fk_audit")(s, "/root/testdata/sf0.01")
      .collect()
    assert(got.length === 7)
    assert(got.forall(r => r.getLong(2) == 0L && r.getLong(4) == 0L),
      "the generated star grew referential defects")
  }
}
