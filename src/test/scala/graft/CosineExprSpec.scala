package graft

import graft.functions.{GraftFunctions, VectorOps}
import org.apache.spark.sql.functions._

class CosineExprSpec extends SparkSpec {

  test("native cosine_sim is bit-identical to the VectorOps HOF fold") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val both = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        call_function("cosine_sim", col("embedding"), col("qe")).as("native"),
        VectorOps.cosine(col("embedding"), col("qe")).as("hof"))
      .collect()
    both.foreach { r =>
      val n = r.getDouble(1); val h = r.getDouble(2)
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(h), s"vec ${r.getLong(0)}: $n vs $h")
    }
    assert(both.length == e.count())
  }

  test("cosine_sim rejects non-float-array inputs at analysis time") {
    GraftFunctions.register(spark)
    val err = intercept[Exception] {
      Tables.lineitem(spark, sf)
        .select(expr("cosine_sim(l_orderkey, l_partkey)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float>") ||
      err.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("cosine_sim null semantics: null input -> null output") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS c")
      .collect()(0)
    assert(row.isNullAt(0))
  }

  test("cosine_sim stays inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val df = e.crossJoin(broadcast(q))
      .select(call_function("cosine_sim", col("embedding"), col("qe")))
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") || plan.contains("*(2)"), plan)
  }

  test("a session built with GraftExtensions resolves every native function without register") {
    // spark.sql.extensions=graft.functions.GraftExtensions is the
    // production registration path; it must cover the same functions
    // as the runtime `register` hook. The session shares this JVM's
    // SparkContext and never calls register.
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val base = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      val names = Seq("cosine_sim", "rhp_bucket", "zorder_long",
        "zorder_norm", "zorder_prefix", "freq_items_sketch",
        "quantile_sketch", "pq_encode_codes", "pq_adc_distance",
        "trigram_profile_hits", "trigram_counts", "int_l2_sq",
        "cosine_argmax_cell")
      val missing = names.filterNot(n =>
        s2.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not registered by GraftExtensions: $missing")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
