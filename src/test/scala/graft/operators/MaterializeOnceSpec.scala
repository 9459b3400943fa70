package graft.operators

import graft.SparkSpec
import java.nio.file.Files

/** The materialize-once store must be an honest cache: one computation
  * per key, invalidation through the source fingerprint, and no stale
  * serving after a source rewrite. */
class MaterializeOnceSpec extends SparkSpec {

  test("fingerprint changes when the source table is rewritten") {
    val dir = Files.createTempDirectory("fp_src").toString
    spark.range(5).toDF("a").write.parquet(s"$dir/tbl.parquet")
    val f1 = MaterializeOnce.fingerprint(dir, "tbl.parquet")
    Thread.sleep(1100) // guard against coarse filesystem mtime resolution
    spark.range(7).toDF("a").write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    val f2 = MaterializeOnce.fingerprint(dir, "tbl.parquet")
    assert(f1 != f2, s"fingerprint must change on rewrite: $f1 vs $f2")
    assert(MaterializeOnce.fingerprint(dir, "nope.parquet") == "absent")
  }

  test("one computation per key; a different key recomputes") {
    var computes = 0
    def build(n: Int) = { computes += 1; spark.range(n).toDF("v") }
    val first = MaterializeOnce("spec-key-1", spark)(build(3))
    assert(first.count() == 3 && computes == 1)
    // Same key: the by-name thunk must NOT run again — served from parquet.
    val again = MaterializeOnce("spec-key-1", spark)(build(999))
    assert(again.count() == 3 && computes == 1)
    val other = MaterializeOnce("spec-key-2", spark)(build(4))
    assert(other.count() == 4 && computes == 2)
  }

  test("a repeat read uses the schema kept at write time: no Spark job") {
    val first = MaterializeOnce("spec-key-3", spark)(spark.range(6).selectExpr("id", "id % 2 AS odd"))
    assert(first.schema == spark.read.parquet(first.inputFiles.head).schema)
    assert(jobsDuring(MaterializeOnce("spec-key-3", spark)(sys.error("recomputed"))) == 0)
    assert(MaterializeOnce("spec-key-3", spark)(sys.error("recomputed")).count() == 6)
  }
}
