package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CorpusStats contract: both scalars from one job, and that job runs once
  * per (dir, table, fingerprint) per JVM — repeat lookups launch NO Spark
  * job (the round-6 finding: every vector/text gate query was re-running
  * count()/max() jobs for a per-corpus constant). */
class CorpusStatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("values match a direct aggregation") {
    val stats = CorpusStats.of(spark, sf, "embeddings", "vec_id")
    val r = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(count(lit(1)), max(col("vec_id"))).head()
    assert(stats.n == r.getLong(0))
    assert(stats.maxId == r.getLong(1))
    assert(CorpusStats.count(spark, sf, "embeddings", "vec_id") == stats.n)
    assert(CorpusStats.maxId(spark, sf, "embeddings", "vec_id") == stats.maxId)
  }

  test("memoized: a repeat lookup launches zero Spark jobs") {
    CorpusStats.of(spark, sf, "documents", "doc_id") // ensure computed
    val before = CorpusStats.computes
    val jobs = jobsDuring {
      val again = CorpusStats.of(spark, sf, "documents", "doc_id")
      assert(again.n > 0)
      assert(CorpusStats.computes == before, "repeat lookup re-computed")
    }
    assert(jobs == 0, s"repeat lookup launched $jobs Spark job(s)")
  }

  test("distinct corpora and a regenerated corpus get fresh stats") {
    val a = CorpusStats.of(spark, sf, "embeddings", "vec_id")
    val b = CorpusStats.of(spark, "/root/testdata/sf0.1", "embeddings", "vec_id")
    assert(b.n > a.n) // sf0.1 embeddings is the only scaled corpus
    // Regeneration: same path, new fingerprint → recomputed.
    val dir = java.nio.file.Files.createTempDirectory("cstats_").toString
    spark.range(5).selectExpr("id AS vec_id")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(CorpusStats.of(spark, dir, "t", "vec_id") == CorpusStats.Stats(5, 4))
    spark.range(7).selectExpr("id AS vec_id")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(CorpusStats.of(spark, dir, "t", "vec_id") == CorpusStats.Stats(7, 6))
  }
}
