package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.util.ScratchDirs

/** Source-format coverage: the engine's operators are format-agnostic
  * — the same query over parquet, JSON, and CSV copies of a table
  * produces identical results (schemas declared on read for the
  * text formats, as any production ingest would).
  */
class FormatsSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("compaction rewrites a many-small-files table into size-targeted files, content-identical") {
    val fragmented = ScratchDirs.create("graft-frag").toString
    val compacted = ScratchDirs.create("graft-comp").toString
    // simulate micro-batch accretion: 40 tiny files
    val src = graft.sources.Tables(spark, sf, "orders")
    src.repartition(40).write.mode("overwrite").parquet(fragmented)
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(fragmented) == 40)

    val rows = src.count()
    val out = graft.sources.Maintenance.compact(spark, fragmented, compacted, targetRowsPerFile = rows / 3)
    val n = parquetFiles(compacted)
    assert(n >= 3 && n <= 5, s"expected ~4 size-targeted files, got $n")
    // content survives byte-for-byte (same rows, any order)
    assert(out.count() == rows)
    assert(out.exceptAll(src).isEmpty && src.exceptAll(out).isEmpty)
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft-evolve").toString
    // generation 1: (doc_id, text) — generation 2 adds a lang column
    Seq((1L, "old row")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    Seq((2L, "new row", "en")).toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "text"))
    val byId = merged.collect().map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    // old-generation rows surface the evolved column as null
    assert(byId(1L).isEmpty && byId(2L).contains("en"))
  }

  test("same aggregation over parquet, json, and csv copies agrees") {
    val orders = Tables(spark, sf, "orders")
    val dir = ScratchDirs.create("graft-fmt").toString
    orders.write.mode("overwrite").json(s"$dir/json")
    orders.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")

    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(14,2)")).as("s"))

    val viaParquet = aggOf(orders)
    val viaJson = aggOf(spark.read.schema(orders.schema).json(s"$dir/json"))
    val viaCsv = aggOf(
      spark.read.schema(orders.schema).option("header", "true").csv(s"$dir/csv"))
    assert(viaJson.exceptAll(viaParquet).isEmpty && viaParquet.exceptAll(viaJson).isEmpty)
    assert(viaCsv.exceptAll(viaParquet).isEmpty && viaParquet.exceptAll(viaCsv).isEmpty)
  }

  test("events.ts canonicalizer reads nanos-long, NTZ-micros, and LTZ-micros encodings identically") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // the corpus has shipped with different at-rest ts encodings
    // across rounds (round 6 lost 16 gates to a nanos→NTZ switch);
    // pin that all three known encodings of the SAME instants
    // canonicalize to the same TimestampType values on BOTH the batch
    // and the streaming read path
    val base = Tables(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .limit(500)
      .cache()
    val dirNanos = ScratchDirs.create("graft-ts-nanos").toString
    val dirNtz = ScratchDirs.create("graft-ts-ntz").toString
    val dirLtz = ScratchDirs.create("graft-ts-ltz").toString
    // TIMESTAMP(NANOS) surfaces as a raw nanos long under nanosAsLong;
    // a written LongType column exercises the identical dispatch arm
    base.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .write.parquet(s"$dirNanos/events.parquet")
    base.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.parquet(s"$dirNtz/events.parquet")
    base.write.parquet(s"$dirLtz/events.parquet")

    def batchFingerprint(dir: String): Seq[(Long, Long)] = {
      val df = Tables(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType,
        s"batch read of $dir must canonicalize ts to TimestampType")
      df.select(col("event_id"), expr("unix_micros(ts)"))
        .orderBy("event_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
    }
    val viaNanos = batchFingerprint(dirNanos)
    val viaNtz = batchFingerprint(dirNtz)
    val viaLtz = batchFingerprint(dirLtz)
    assert(viaNanos.nonEmpty)
    assert(viaNanos == viaNtz, "nanos-long vs NTZ-micros reads disagree")
    assert(viaNtz == viaLtz, "NTZ-micros vs LTZ-micros reads disagree")

    // streaming path: same canonical type for every encoding (the
    // round-6 silent 1000x compression was exactly this path assuming
    // LongType over a micros corpus)
    for (d <- Seq(dirNanos, dirNtz, dirLtz)) {
      val st = graft.streaming.StreamingQueries.eventsStream(spark, d)
      assert(st.isStreaming)
      assert(st.schema("ts").dataType == TimestampType,
        s"streaming read of $d must canonicalize ts to TimestampType")
    }
  }

  test("TPC-H date columns canonicalize to NTZ from nanos-long, LTZ, DATE, and NTZ encodings") {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    // the round-6 lesson generalized: the corpus regeneration may
    // re-encode o_orderdate/l_shipdate just as it re-encoded
    // events.ts. Pin that every plausible at-rest encoding of the
    // SAME dates reads back to the contract type (TIMESTAMP_NTZ — the
    // type all committed TPC-H predicates and oracle rows were built
    // against) with identical values on the batch path.
    val base = Tables(spark, sf, "orders")
      .select("o_orderkey", "o_orderdate")
      .limit(500)
      .cache()
    val encodings: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      // raw nanos long (TIMESTAMP(NANOS) surfaces this way under nanosAsLong)
      "nanos" -> base.withColumn(
        "o_orderdate", expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) * 1000")),
      "ltz" -> base.withColumn("o_orderdate", col("o_orderdate").cast(TimestampType)),
      "date" -> base.withColumn("o_orderdate", col("o_orderdate").cast(DateType)),
      "ntz" -> base,
    )
    val prints = encodings.map { case (label, df) =>
      val dir = ScratchDirs.create(s"graft-date-$label").toString
      df.write.parquet(s"$dir/orders.parquet")
      val back = Tables(spark, dir, "orders")
      assert(back.schema("o_orderdate").dataType == TimestampNTZType,
        s"$label encoding must canonicalize o_orderdate to TIMESTAMP_NTZ")
      val got = back
        .select(col("o_orderkey"),
          expr("CAST(o_orderdate AS STRING)").as("d"))
        .orderBy("o_orderkey")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSeq
      label -> got
    }
    val ref = prints.head._2
    assert(ref.nonEmpty)
    for ((label, got) <- prints.tail)
      assert(got == ref, s"$label encoding disagrees with ${prints.head._1}")
  }

  test("embeddings canonicalize to array<float> from a list<double> re-encoding, values identical") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    // the typed cosine/minhash expressions require array<float>
    // exactly; pin that a corpus regeneration shipping the SAME f32
    // values as list<double> reads back bit-identically instead of
    // failing type-check across the similarity gate family
    val base = Tables(spark, sf, "embeddings").limit(100).cache()
    val dir = ScratchDirs.create("graft-emb-f64").toString
    base.withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
      .write.parquet(s"$dir/embeddings.parquet")
    val back = Tables(spark, dir, "embeddings")
    assert(back.schema("embedding").dataType == ArrayType(FloatType),
      "double re-encoding must canonicalize back to array<float>")
    def fp(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Float])] =
      df.select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    assert(fp(back) == fp(base), "f64 round-trip must be bit-identical to the f32 source")

    // streaming path: the scored stream must declare the at-rest type
    // (footer probe) and still hand the cosine expression array<float>
    val st = graft.streaming.StreamingQueries.similarityScoredStream(spark, dir)
    assert(st.isStreaming)
    assert(st.schema("cos").dataType.typeName == "double",
      "typed cosine must type-check over the double-encoded corpus stream")
  }

  test("string/binary and integral-width re-encodings canonicalize on batch and streaming reads") {
    import org.apache.spark.sql.types.{BinaryType, FloatType, IntegerType, LongType, StringType}
    // the contract matrix generalized to NON-time columns: a corpus
    // regeneration may ship strings as un-annotated BYTE_ARRAY (reads
    // as binary), widen int32 ids to int64 (or vice versa), or ship
    // doubles as float. Pin that the drifted encodings of the SAME
    // values read back with the contract schema and identical values.
    def fingerprint(df: org.apache.spark.sql.DataFrame, order: String): Seq[String] =
      df.orderBy(order).collect().map(_.mkString("|")).toSeq

    // documents: strings → binary, int64 ids → int32
    val docBase = Tables(spark, sf, "documents").limit(200).cache()
    val docDir = ScratchDirs.create("graft-doc-drift").toString
    docBase
      .withColumn("text", col("text").cast(BinaryType))
      .withColumn("lang", col("lang").cast(BinaryType))
      .withColumn("source", col("source").cast(BinaryType))
      .withColumn("doc_id", col("doc_id").cast(IntegerType))
      .withColumn("n_chars", col("n_chars").cast(IntegerType))
      .write.parquet(s"$docDir/documents.parquet")
    val docBack = Tables(spark, docDir, "documents")
    assert(docBack.schema("text").dataType == StringType)
    assert(docBack.schema("doc_id").dataType == LongType)
    assert(docBack.schema("n_chars").dataType == LongType)
    assert(fingerprint(docBack, "doc_id") == fingerprint(docBase, "doc_id"),
      "binary/int32 re-encoding of documents must read back identically")
    val docStream = graft.streaming.StreamingQueries.documentsStream(spark, docDir)
    assert(docStream.isStreaming)
    assert(docStream.schema("text").dataType == StringType &&
      docStream.schema("doc_id").dataType == LongType,
      "documents stream must canonicalize the drifted encoding")

    // events: props → binary, value → float, user_id → int32 (with ts untouched)
    val evBase = Tables(spark, sf, "events").limit(200).cache()
    val evDir = ScratchDirs.create("graft-ev-drift").toString
    evBase
      .withColumn("props", col("props").cast(BinaryType))
      .withColumn("value", col("value").cast(FloatType))
      .withColumn("user_id", col("user_id").cast(IntegerType))
      .write.parquet(s"$evDir/events.parquet")
    val evBack = Tables(spark, evDir, "events")
    assert(evBack.schema("props").dataType == StringType)
    assert(evBack.schema("value").dataType.typeName == "double")
    assert(evBack.schema("user_id").dataType == LongType)
    // value survives only if the drifted encoding held the same
    // float-representable values; compare through the float gate
    val evRef = evBase.withColumn("value", col("value").cast(FloatType).cast("double"))
    assert(fingerprint(evBack, "event_id") == fingerprint(evRef, "event_id"),
      "binary/float/int32 re-encoding of events must read back identically")
    val evStream = graft.streaming.StreamingQueries.eventsStream(spark, evDir)
    assert(evStream.isStreaming && evStream.schema("props").dataType == StringType &&
      evStream.schema("user_id").dataType == LongType)

    // the schema assertions above are NOT enough for the streaming
    // path: the pre-fix glob-filter reader produced the right schema
    // and ZERO rows against a directory-layout table (part files do
    // not match the `<name>.parquet` name glob). Run the stream to
    // completion and count.
    val evQ = evStream.writeStream.format("memory").queryName("fmt_dirlayout_ev")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    evQ.awaitTermination()
    assert(spark.table("fmt_dirlayout_ev").count() == 200,
      "directory-layout events table must stream every row, not match zero files")

    // nation: int32 keys widened to int64 must cast back (the
    // downward direction — exact for a re-encode of the same values)
    val natBase = Tables(spark, sf, "nation").cache()
    val natDir = ScratchDirs.create("graft-nat-drift").toString
    natBase
      .withColumn("n_nationkey", col("n_nationkey").cast(LongType))
      .withColumn("n_regionkey", col("n_regionkey").cast(LongType))
      .write.parquet(s"$natDir/nation.parquet")
    val natBack = Tables(spark, natDir, "nation")
    assert(natBack.schema("n_nationkey").dataType == IntegerType)
    assert(fingerprint(natBack, "n_nationkey") == fingerprint(natBase, "n_nationkey"),
      "int64 re-encoding of nation keys must read back identically")
  }
}
