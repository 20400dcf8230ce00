package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Repeating a query reuses its generated classes. Spark keeps them in
  * one JVM-wide cache that [[GraftSession.builder]] sizes to
  * [[GraftSession.CodegenCacheEntries]]; at Spark's default of 100
  * entries these five queries (about 240 classes) evicted each other,
  * so every pass recompiled almost all of its classes.
  */
class CodegenReuseSpec extends SparkSpec {

  /** Empties the JVM-wide class cache, so that the first pass compiles
    * the queries' whole working set whatever ran before this suite.
    * The cache is private to Spark; reflection reaches the field. The
    * session must exist first: loading the cache sizes it from the
    * active session's conf, or from Spark's default without one.
    */
  private def clearCodegenCache(): Unit = {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val f = Class.forName(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      .getDeclaredField("cache")
    f.setAccessible(true)
    val cache = f.get(null)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a second pass over the analytics queries compiles at most a tenth of the first") {
    val names = Seq("q1_agg", "q29_asof_native", "q40_concentration",
      "events_gap_plan", "graph_pagerank")
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val before = compiles()
      names.foreach(n => SparkEntry.queries(n)(spark, sf)
        .write.mode("overwrite").format("noop").save())
      compiles() - before
    }
    clearCodegenCache()
    val first = pass()
    val second = pass()
    info(s"compiled $first classes in the first pass, $second in the second")
    // AQE can re-plan a stage into a new shape on a later run, so the
    // second pass may still compile a few classes, never the working set
    assert(first > 100, s"first pass compiled only $first classes")
    assert(second * 10 <= first,
      s"first pass compiled $first classes, the second $second")
  }
}
