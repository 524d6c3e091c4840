package graft

/** graft_dot resolves from plain SQL when the extension is installed. */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions makes graft_dot resolvable from SQL text") {
    // the shared test session may not carry the extension; create a child
    // session and register through the same builder path the extension uses
    val ext = new graft.plans.GraftExtensions
    val s2 = spark.newSession()
    graft.functions.VectorExpressions.register(s2)
    val r = s2.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head.getDouble(0)
    assert(r == 32.0)

    // and via a fresh session built with the extension installed
    val b = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(ext)
    val s3 = b.getOrCreate().newSession()
    graft.functions.VectorExpressions.register(s3) // getOrCreate may reuse the shared session
    assert(s3.sql(
      "SELECT graft_dot(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS d").head.getDouble(0) == 0.0)
  }

  test("GraftExtensions resolves graft_minhash/graft_simhash from SQL; values match the Scala entry points") {
    val s2 = spark.newSession()
    graft.functions.MinhashExpression.register(s2)
    graft.functions.SimhashExpression.register(s2)
    graft.functions.WinnowExpression.register(s2)
    // same builders the extension injects — SQL text resolves and agrees
    // with the Column-API wrappers bit-for-bit
    val viaSql = s2.sql(
      "SELECT graft_minhash(split('a b c', ' '), 4) AS mh, " +
        "graft_simhash(split('a b c', ' ')) AS sh, " +
        "graft_winnow(split('a b c d e f', ' '), 3, 4) AS wf").head
    import org.apache.spark.sql.functions.{col, split}
    val viaApi = {
      val df = s2.sql("SELECT 'a b c' AS t, 'a b c d e f' AS t6")
      df.select(
        graft.functions.MinhashExpression.signature(s2, split(col("t"), " "), 4).as("mh"),
        graft.functions.SimhashExpression.fingerprint(s2, split(col("t"), " ")).as("sh"),
        graft.functions.WinnowExpression.fingerprints(s2, split(col("t6"), " "), 3, 4).as("wf"))
        .head
    }
    assert(viaSql.getSeq[Long](0) == viaApi.getSeq[Long](0))
    assert(viaSql.getLong(1) == viaApi.getLong(1))
    assert(viaSql.getSeq[Long](2) == viaApi.getSeq[Long](2))
    // injection into a bare SparkSessionExtensions is side-effect free
    // (builders only run at resolution time)
    new graft.plans.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("every native function resolves from SQL text in a session that has only the extension installed") {
    import org.apache.spark.sql.SparkSession
    val bloom = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(16)
      bf.putBinary("a".getBytes("UTF-8"))
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray.map("%02X".format(_)).mkString
    }
    val calls = Map(
      "graft_dot" -> "graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))",
      "graft_minhash" -> "graft_minhash(split('a b c', ' '), 4)",
      "graft_simhash" -> "graft_simhash(split('a b c', ' '))",
      "graft_simhash_nn" -> "graft_simhash_nn(split('a b c', ' '))",
      "graft_winnow" -> "graft_winnow(split('a b c d e f', ' '), 3, 4)",
      "graft_ngrams" -> "graft_ngrams(split('a b c d', ' '), 2)",
      "graft_pq_encode" ->
        "graft_pq_encode(array(1.0d, 2.0d), array(0.0d, 0.0d, 1.0d, 2.0d), 1, 2)",
      "graft_ivf_assign" ->
        "graft_ivf_assign(array(1.0d, -1.0d), array(1.0d, 1.0d, -1.0d, 1.0d), 2)",
      "graft_ivf_probes" ->
        "graft_ivf_probes(array(1.0d, -1.0d), array(1.0d, 1.0d, -1.0d, 1.0d), 2, 1)",
      "graft_bloom_contains" -> s"graft_bloom_contains('a', X'$bloom')")
    assert(graft.plans.GraftExtensions.builders.map(_._1).toSet === calls.keySet)
    // a NEW session on the running context: getOrCreate only builds one
    // (and applies the extension) when no active or default session exists
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try SparkSession.builder().withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      finally { SparkSession.setDefaultSession(shared); SparkSession.setActiveSession(shared) }
    assert(s ne shared)
    calls.foreach { case (name, call) =>
      val row = s.sql(s"SELECT $call AS v").head()
      assert(!row.isNullAt(0), name)
    }
    assert(s.sql(s"SELECT graft_bloom_contains('a', X'$bloom')").head().getBoolean(0))
    assert(s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0) == 11.0)
  }
}
