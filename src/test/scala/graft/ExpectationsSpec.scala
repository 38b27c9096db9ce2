package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Expectations
import graft.sources.Tables
import graft.util.ScratchDirs

/** The expectations audit must DETECT, not just count zeros: inject
  * one violation per check family into a copied corpus and assert
  * exactly the right checks flip, with exact violation counts — while
  * the pristine corpus passes everything (the oracle gate already
  * value-checks that side; this pins the detector's sensitivity).
  */
class ExpectationsSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("pristine corpus passes every check") {
    val rows = Expectations.dataExpectations(spark, sf).collect()
    assert(rows.length == 12)
    assert(rows.forall(_.getAs[Int]("pass") == 1), rows.mkString("\n"))
  }

  test("injected violations flip exactly the right checks with exact counts") {
    val tmp = ScratchDirs.create("graft-expect").toString
    // copy the audited tables, corrupting two of them
    for (t <- Seq("lineitem", "customer", "embeddings"))
      Tables(spark, sf, t).write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    // events ships EMPTY: an empty table must audit as 0 violations /
    // pass (not NULL — the review-caught coalesce branch)
    Tables(spark, sf, "events").limit(0).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // orders: one row violating the FK AND the price check
    val orders = Tables(spark, sf, "orders")
    orders
      .unionByName(
        orders.limit(1).select(
          lit(-1L).as("o_orderkey"),
          lit(-999L).as("o_custkey"),
          lit("F").as("o_orderstatus"),
          lit(-5.0).as("o_totalprice"),
          col("o_orderdate"),
          col("o_orderpriority"),
        ))
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    // documents: duplicate one doc_id and corrupt its n_chars
    val docs = Tables(spark, sf, "documents")
    docs
      .unionByName(
        docs.limit(1).select(
          col("doc_id"),
          col("text"),
          col("lang"),
          col("source"),
          (col("n_chars") + 7L).as("n_chars"),
        ))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val got = Expectations.dataExpectations(spark, tmp).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("n_violations")).toMap
    assert(got("orders_custkey_fk") == 1L)
    assert(got("orders_totalprice_positive") == 1L)
    assert(got("documents_docid_unique") == 1L)
    assert(got("documents_nchars_consistent") == 1L)
    // the extra orders row also dangles lineitem? no — lineitem keys
    // reference real orders only; everything else stays clean
    val dirty = Set(
      "orders_custkey_fk", "orders_totalprice_positive",
      "documents_docid_unique", "documents_nchars_consistent")
    got.filterNot { case (k, _) => dirty(k) }.foreach { case (k, v) =>
      assert(v == 0L, s"$k unexpectedly flagged $v")
    }
    // the empty events table audits as a pass with exact zeros, never NULL
    val eventRows = Expectations.dataExpectations(spark, tmp).collect()
      .filter(_.getAs[String]("check_name").startsWith("events_"))
    assert(eventRows.length == 2)
    eventRows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == 0L && r.getAs[Long]("n_violations") == 0L
        && r.getAs[Int]("pass") == 1, s"empty-table audit broke: $r")
    }
  }
}
