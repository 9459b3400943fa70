package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType

/** The generated-code cache a graft session configures holds more than
  * Spark's default 100 classes: a working set of 150 distinct projections
  * compiles once, and a second round over it compiles nothing. */
class CodegenCacheSpec extends SparkSpec {

  test("150 distinct generated projections compile once across two rounds") {
    spark // the session's static conf sizes the cache when codegen first runs
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def round(): Long = {
      val c0 = compiles.getCount
      // Each literal is inlined into the generated source: 150 distinct classes.
      for (i <- 0 until 150)
        GenerateUnsafeProjection.generate(
          Seq(Add(BoundReference(0, LongType, nullable = false), Literal(1000003L * i))))
      compiles.getCount - c0
    }
    val first = round()
    assert(first > 100, s"only $first compiles in the first round")
    assert(round() == 0)
  }
}
