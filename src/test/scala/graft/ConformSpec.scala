package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Conform
import graft.query.{AggCompiler, AggregationParser, Properties}

/**
 * Source-boundary conformance (graft.model.Conform — the read-time analog
 * of the reference's Mapping contract, Mapping.scala:108-145): the SAME
 * events table written in all three physical `ts` encodings this lake has
 * historically delivered must produce byte-identical query results:
 *
 *   1. int64 nanoseconds since epoch (raw-long writers; also what
 *      TIMESTAMP(NANOS) parquet reads as under nanosAsLong),
 *   2. timezone-less timestamp[us] (TIMESTAMP_NTZ to Spark ≥3.4 — the
 *      driver's current writer),
 *   3. tz-adjusted TIMESTAMP micros (Spark's own writer default).
 */
class ConformSpec extends SparkSpec {
  import spark.implicits._

  // a small deterministic events slice spanning several days, with a
  // sub-millisecond component to pin the nanos→micros floor
  private lazy val base: DataFrame = {
    val rows = (0 until 200).map { i =>
      (i.toLong, 1700000000000000L + i.toLong * 7013000017L, i % 13L,
        if (i % 3 == 0) "click" else "view", i * 0.37)
    }
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
  }

  private def writeEncoding(dir: String, enc: String): String = {
    val out = s"$dir/$enc/events.parquet"
    val df = enc match {
      case "long_nanos" => base.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case "ntz_micros" => base.withColumn("ts", col("ts").cast(TimestampNTZType))
      case "tz_micros"  => base
    }
    df.coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  private val t01Json =
    """{"_agg":"time","_field":"ts","_interval":"1d",
      |"_select":[{"_agg":"count","_name":"cnt"},
      |           {"_agg":"sum","_field":"value","_name":"val_sum"}]}""".stripMargin

  private def t01Shaped(df: DataFrame): Seq[String] =
    AggCompiler(df, AggregationParser.parse(t01Json, Properties.passthrough), Properties.passthrough)
      .select(unix_millis(col("ts_bucket")).as("bucket_ms"), col("cnt"), col("val_sum"))
      .orderBy("bucket_ms").collect().map(_.toString).toSeq

  it("conforms all three historical ts encodings to one TIMESTAMP read") {
    withScratchDir("graft_conform_") { dir =>
      val encs = Seq("long_nanos", "ntz_micros", "tz_micros")
      val conformed = encs.map { e =>
        val df = Conform("events", spark.read.parquet(writeEncoding(dir, e)))
        assert(df.schema("ts").dataType === TimestampType, s"encoding $e")
        e -> df
      }.toMap
      // batch: the t01-shaped day-bucket aggregation is byte-identical
      val batchResults = encs.map(e => t01Shaped(conformed(e)))
      assert(batchResults.distinct.size === 1,
        s"t01-shaped results diverge across encodings: $batchResults")
      assert(batchResults.head.nonEmpty)
    }
  }

  it("refuses an undeclared ts encoding instead of passing it through") {
    val bad = Seq(("2024-01-01", 1L)).toDF("ts", "event_id")
    val e = intercept[IllegalArgumentException](Conform("events", bad))
    assert(e.getMessage.contains("cannot conform"))
  }

  it("is a no-op for tables and columns with no declaration") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    assert(Conform("documents", df) eq df)
    val noTs = Seq((1L, 2L)).toDF("event_id", "user_id")
    assert(Conform("events", noTs).collect().toSeq === noTs.collect().toSeq)
  }

  it("conforms a double-encoded embedding column to the declared float vectors") {
    withScratchDir("graft_conform_e_") { dir =>
      val f = Seq((1L, Array(1.0f, 2.5f, -0.125f)), (2L, Array(0.5f, -1.25f, 3.75f)))
        .toDF("vec_id", "embedding")
      f.withColumn("embedding", col("embedding").cast("array<double>"))
        .write.parquet(s"$dir/events.parquet")
      val back = Conform("embeddings", spark.read.parquet(s"$dir/events.parquet"))
      assert(back.schema("embedding").dataType === ArrayType(FloatType))
      assert(back.orderBy("vec_id").collect().map(_.getSeq[Float](1)).toSeq ===
        f.orderBy("vec_id").collect().map(_.getSeq[Float](1)).toSeq)
    }
  }

  it("streams all three encodings through the s01-shaped windowed agg identically") {
    withScratchDir("graft_conform_s_") { dir =>
      val encs = Seq("long_nanos", "ntz_micros", "tz_micros")
      val results = encs.map { e =>
        val path = writeEncoding(dir, e)
        val schema = spark.read.parquet(path).schema
        val stream = Conform("events", spark.readStream.schema(schema).parquet(path))
        graft.streaming.StreamAgg.replay(
          spark, graft.streaming.StreamAgg.dailyBucketsPlan(stream),
          s"conform_${e}_", "complete")(_.orderBy("bucket_ms"))
          .collect().map(_.toString).toSeq
      }
      assert(results.distinct.size === 1,
        s"s01-shaped streaming results diverge across encodings: $results")
      assert(results.head.nonEmpty)
    }
  }
}
