package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Packing
import graft.util.ScratchDirs

class PackingSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  // packed row layout: (source, split_id, seq_id, n_docs, n_tokens, first_doc)

  test("sequence packing partitions each (source, split) into contiguous windows covering every doc") {
    val ctx = 256
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val packed = Packing.packSequences(spark, sf, ctx).collect()

    // conservation: every doc lands in exactly one window, so window
    // doc counts sum to the corpus size and token counts to the total
    val nDocs = docs.count()
    assert(packed.map(_.getLong(3)).sum == nDocs)

    import org.apache.spark.sql.functions._
    val totalTokens = docs
      .select(sum(size(split(col("text"), " ")).cast("long")))
      .head.getLong(0)
    assert(packed.map(_.getLong(4)).sum == totalTokens)

    // the packing unit is (source, split): within each, windows are a
    // contiguous run of seq ids starting at 0
    val byUnit = packed.groupBy(r => (r.getString(0), r.getLong(1)))
    byUnit.foreach { case ((src, splitId), wins) =>
      val ids = wins.map(_.getLong(2)).sorted
      assert(ids.head == 0L, s"$src/$splitId: first window is seq 0")
      // windows are contiguous: a doc can start in window k+1 only
      // after earlier docs filled window k (offsets are a running sum)
      assert(
        ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
        s"$src/$splitId: window ids not contiguous: ${ids.mkString(",")}",
      )
      // tight offset invariant: if window sid+1 exists, its first doc
      // starts at offset >= (sid+1)*ctx, and that offset IS the
      // cumulative token count through window sid
      val cum = wins.sortBy(_.getLong(2)).map(_.getLong(4)).scanLeft(0L)(_ + _).drop(1)
      ids.init.zip(cum.init).foreach { case (sid, c) =>
        assert(c >= (sid + 1) * ctx, s"$src/$splitId window $sid under-filled: cum=$c")
      }
    }
  }

  test("sub-splits of one source pack independently (offsets restart per split)") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft-pack").toString
    // one source, ten docs; doc i has i+1 whitespace tokens
    (0L until 10L).map(i => (i, "web", ("w " * (i + 1).toInt).trim))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val packed = Packing.packSequences(spark, dir, ctx = 10, splitEvery = 5L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> ((r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // split 0 (docs 0-4, tokens 1..5): offsets 0,1,3,6,10 → window 0
    // holds docs 0-3 (10 tokens), window 1 holds doc 4
    assert(packed((0L, 0L)) == ((4L, 10L, 0L)))
    assert(packed((0L, 1L)) == ((1L, 5L, 4L)))
    // split 1 (docs 5-9, tokens 6..10) RESTARTS at offset 0 — its
    // windows don't depend on split 0's 15-token total: offsets
    // 0,6,13,21,30 → seq 0,0,1,2,3. Two sub-splits of one source pack
    // independently, which is what lets a giant source parallelize.
    assert(packed((1L, 0L)) == ((2L, 13L, 5L)))
    assert(packed((1L, 1L)) == ((1L, 8L, 7L)))
    assert(packed((1L, 2L)) == ((1L, 9L, 8L)))
    assert(packed((1L, 3L)) == ((1L, 10L, 9L)))
    assert(packed.size == 6)
  }

  test("length buckets conserve docs/tokens and bound every doc by its bucket range") {
    import org.apache.spark.sql.functions._
    val width = 32
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val buckets = Packing.lengthBuckets(spark, sf, width).collect()
    assert(buckets.nonEmpty)
    // row layout: (bucket, n_docs, n_tokens, max_tok, padding_waste)
    assert(buckets.map(_.getLong(1)).sum == docs.count())
    val totalTokens = docs
      .select(sum(size(split(col("text"), " ")).cast("long")))
      .head.getLong(0)
    assert(buckets.map(_.getLong(2)).sum == totalTokens)
    buckets.foreach { r =>
      val (b, n, tok, mx, waste) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // bucket membership: max doc length sits inside [b*w, b*w+w-1],
      // and the mean cannot undershoot the bucket floor
      assert(mx >= b * width && mx < (b + 1) * width, s"bucket $b max_tok $mx out of range")
      assert(tok >= b * width * n && tok <= mx * n)
      // padding waste is exactly the pad-to-max overhead
      assert(waste == n * mx - tok && waste >= 0)
    }
  }
}
