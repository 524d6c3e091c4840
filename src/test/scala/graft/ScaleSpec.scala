package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale
import graft.plans.Pipeline
import graft.sources.Format

/** Skew helpers + strict-checkpoint-compat mode. */
class ScaleSpec extends SparkSpec {

  private def withTarget[T](v: String)(body: => T): T = {
    val prior = spark.conf.getOption("spark.graft.fanout.target")
    spark.conf.set("spark.graft.fanout.target", v)
    try body finally prior match {
      case Some(p) => spark.conf.set("spark.graft.fanout.target", p)
      case None => spark.conf.unset("spark.graft.fanout.target")
    }
  }

  test("fanOut: engages only on sub-parallel inputs, honors the conf, adds exactly one round-robin exchange") {
    import spark.implicits._
    val narrow = (1 to 100).toDF("x").coalesce(1)   // sub-parallel input
    val wide = (1 to 100).toDF("x").repartition(8)  // already-parallel input
    withTarget("4") {
      val fanned = Scale.fanOut(narrow)
      assert(fanned.rdd.getNumPartitions == 4)
      // exactly one added exchange, round-robin — never a key shuffle
      val plan = fanned.queryExecution.executedPlan.toString
      assert(plan.contains("roundrobin") || plan.contains("RoundRobin"),
        s"expected a round-robin exchange, got:\n$plan")
      // identity when the input already feeds >= target partitions
      assert(Scale.fanOut(wide) eq wide)
      // values unchanged
      assert(fanned.as[Int].collect().sorted.toSeq == (1 to 100))
    }
    // disabled (<= 1): always the identity — the at-scale plan shape
    withTarget("1") { assert(Scale.fanOut(narrow) eq narrow) }
  }

  // fanOut reads the input's partition count through `df.rdd`. If that
  // planned the caller's own QueryExecution, a later `df.persist()` could
  // not reach the already-planned frame, and its actions would recompute
  // instead of reading the cache.
  test("fanOut leaves the caller's frame plannable: after persist its own plan reads the cache") {
    import spark.implicits._
    withTarget("8") {
      val df = (1 to 100).toDF("x").coalesce(1)
      assert(Scale.fanOut(df).rdd.getNumPartitions == 8) // the df.rdd path ran
      df.persist()
      try {
        assert(df.count() == 100)
        assert(df.as[Int].collect().sorted.toSeq == (1 to 100))
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("InMemoryTableScan"),
          s"expected the persisted frame to read its cache, got:\n$plan")
      } finally df.unpersist()
    }
  }

  test("cumByRange: the bucketed big-domain path equals the single-task small-domain path") {
    import spark.implicits._
    // 5000 distinct keys with skewed counts; force the bucketed path
    // with smallDomain = 0 and compare against the windowed path
    val counts = (1L to 5000L).map(k => (s"k${"%05d".format(k)}", k % 7 + 1))
      .toDF("k", "cnt")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "cum", "n").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val small = rows(Scale.cumByRange(counts, "k", "cnt"))
    val big = rows(Scale.cumByRange(counts, "k", "cnt", smallDomain = 0L))
    assert(small.length == 5000 && small.toSeq == big.toSeq)
  }
  import spark.implicits._

  test("joinSkewProbe: per-key products predict the join's exact output size") {
    val left = Seq("hot", "hot", "hot", "warm", "warm", "cold", "lonely")
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "l")
    val right = Seq("hot", "hot", "warm", "cold", "cold", "orphan")
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("j", "r")
    val probe = Scale.joinSkewProbe(left, "k", right, "j", topK = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    // matched keys only; sorted by output contribution
    assert(probe.toSeq == Seq( // equal out_rows tie-break: key ascending
      "hot" -> ((3L, 2L, 6L)), "cold" -> ((1L, 2L, 2L)), "warm" -> ((2L, 1L, 2L))))
    // sum(out_rows) IS the join size
    assert(probe.map(_._2._3).sum == left.join(right, $"k" === $"j").count())
    // topK caps the report
    assert(Scale.joinSkewProbe(left, "k", right, "j", topK = 1).count() == 1)
  }

  test("saltedJoin equals plain join on skewed data") {
    // hot key: 90% of rows share key 'hot'
    val big = (1 to 1000).map(i =>
      (if (i % 10 == 0) s"k$i" else "hot", i.toLong)).toDF("key", "id")
    val small = Seq(("hot", "H"), ("k10", "A"), ("k20", "B")).toDF("key", "label")
    val plain = big.join(small, Seq("key")).select("key", "id", "label")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val salted = Scale.saltedJoin(big, small, "key", discriminator = "id", salts = 8)
      .select("key", "id", "label")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.size == 1000 - 100 + 2) // 900 hot + k10 + k20
  }

  test("saltedJoin keeps rows whose discriminator is null") {
    val big = Seq((Some("hot"), Option.empty[String]), (Some("hot"), Some("r1")))
      .map { case (k, d) => (k.orNull, d.orNull) }.toDF("key", "rid")
    val small = Seq(("hot", "H")).toDF("key", "label")
    val out = Scale.saltedJoin(big, small, "key", discriminator = "rid", salts = 4)
    assert(out.count() == 2) // null-rid row joined too (salt 0, not null)
    assertThrows[IllegalArgumentException](
      Scale.saltedJoin(big, small, "key", "rid", 4, joinType = "full_outer"))
  }

  test("saltedCount equals plain groupBy count") {
    val df = (1 to 500).map(i => (if (i % 5 == 0) "rare" else "hot", i.toLong))
      .toDF("key", "id")
    val plain = df.groupBy("key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedCount(df, "key", "id", salts = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("distinctCountPerKey equals countDistinct, and never plans an Expand") {
    val df = (1 to 2000).map(i => (s"t${i % 3}", (i % 37).toLong)).toDF("key", "uid")
    val plain = df.groupBy("key").agg(countDistinct(col("uid")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val staged = Scale.distinctCountPerKey(df, "key", "uid", as = "n")
    assert(staged.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == plain)
    // the point of the two-stage plan: dedup keyed on (key, value) via
    // HashAggregate, no single-reducer distinct state
    val plan = staged.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"two-stage distinct planned an Expand:\n$plan")
  }

  test("distinctCountPerKey ignores null values, like COUNT(DISTINCT)") {
    // the distinct() stage keeps one (key, null) row per key — it must
    // contribute 0, including the all-null group
    val df = Seq(("a", Some(1L)), ("a", Some(1L)), ("a", None),
      ("b", None), ("b", None)).toDF("key", "uid")
    val got = Scale.distinctCountPerKey(df, "key", "uid", as = "n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 0L))
  }

  test("bucketed tables join with no shuffle exchange on either side") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lineitem = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    Scale.bucketedWrite(orders, "b_orders", "o_orderkey", 4)
    Scale.bucketedWrite(lineitem, "b_lineitem", "o_orderkey", 4)
    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem").hint("merge"), Seq("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join, got:\n$plan")
    // and it's still the right answer
    assert(joined.count() ==
      orders.join(lineitem, Seq("o_orderkey")).count())
  }

  test("zOrderValue round-trips bit interleave; z-range chunks bound BOTH dims where a lex sort doesn't") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // full 64x64 grid; 6-bit interleave
    val grid = spark.range(64L * 64)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    val z = grid.withColumn("z",
      operators.Scale.zOrderValue(col("a"), col("b"), bits = 6))
    // bijectivity: 4096 distinct z-values in [0, 4096)
    val stats = z.agg(countDistinct("z"), min("z"), max("z")).head()
    assert(stats.getLong(0) == 4096 && stats.getLong(1) == 0L && stats.getLong(2) == 4095L)
    // spot-check the interleave definition
    val probe = z.filter(col("a") === 5 && col("b") === 3).head().getAs[Long]("z")
    // a=101, b=011 -> z bits (b2 a2 b1 a1 b0 a0) = 0 1 1 0 1 1 = 27... compute:
    def morton(a: Long, b: Long): Long =
      (0 until 6).map(i => (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1))).reduce(_ | _)
    assert(probe == morton(5, 3))
    // locality: split the z-ordered grid into 16 contiguous chunks of 256
    // rows (z IS the dense rank here — 4096 consecutive values — so the
    // chunk id is simply z div 256, i.e. perfectly aligned 16x16 blocks):
    // per-chunk span of EACH dim is 15. A lexicographic sort by a leaves
    // b spanning the full domain in every chunk.
    val spans = z.withColumn("chunk", (col("z") / 256).cast("long"))
      .groupBy("chunk")
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .agg(max("sa"), max("sb")).head()
    assert(spans.getLong(0) == 15 && spans.getLong(1) == 15,
      s"z-chunks must bound both dims at 15: $spans")
    val lexSpans = grid.withColumn("chunk", (col("a") / 4).cast("long")) // 16 chunks of 4 a-values
      .groupBy("chunk").agg((max("b") - min("b")).as("sb"))
      .agg(max("sb")).head()
    assert(lexSpans.getLong(0) == 63, "lex chunks leave the second dim unbounded")
  }

  test("strictCheckpointCompat re-reads checkpoints (types re-stringified, like the reference)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_strict").toString
    val src = java.nio.file.Paths.get(dir, "in.csv")
    java.nio.file.Files.writeString(src, "n,s\n1,a\n2,b\n")
    val p1 = graft.plans.Phase("One",
      columns = Seq(graft.functions.ColumnDef.int("n")))
    // phase Two sees the CSV-re-read frame: n is a STRING again
    var observedType: Option[org.apache.spark.sql.types.DataType] = None
    val p2 = graft.plans.Phase("Two", steps = Seq(
      graft.plans.Step.context("observe") { (df, _) =>
        observedType = Some(df.schema("n").dataType)
      }))
    val pipe = new Pipeline(spark, Seq(p1, p2),
      java.nio.file.Paths.get(dir, "out").toString, src.toString,
      saveFormat = Format.Csv, strictCheckpointCompat = true)
    pipe.run()
    assert(observedType.contains(org.apache.spark.sql.types.StringType))

    // default mode: phase Two sees the typed in-memory frame
    var observedType2: Option[org.apache.spark.sql.types.DataType] = None
    val p2b = graft.plans.Phase("Two", steps = Seq(
      graft.plans.Step.context("observe") { (df, _) =>
        observedType2 = Some(df.schema("n").dataType)
      }))
    val pipe2 = new Pipeline(spark, Seq(p1, p2b),
      java.nio.file.Paths.get(dir, "out2").toString, src.toString,
      saveFormat = Format.Csv)
    pipe2.run()
    assert(observedType2.contains(org.apache.spark.sql.types.LongType))
  }

  test("rendezvousAudit: removing a node moves ONLY its keys; mod-N re-homes nearly everything") {
    import spark.implicits._
    val n = 2000L
    val df = (1L to n).toDF("id")
    val out = Scale.rendezvousAudit(df, "id", nNodes = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.map(_._1).toSeq == (0L to 7L))
    // partitions: every key assigned exactly once, before and after
    assert(out.map(_._2).sum == n && out.map(_._3).sum == n)
    assert(out.map(_._5).sum == n)
    val removed = out.find(_._1 == 7L).get
    assert(removed._3 == 0L && removed._4 == -removed._2)
    // HRW guarantee: survivors only GAIN, and the gains are exactly the
    // removed node's keys
    val survivors = out.filter(_._1 < 7L)
    assert(survivors.forall(_._4 >= 0L))
    assert(survivors.map(_._4).sum == removed._2)
    // mod hashing: the stayers are a small minority (~1/7 of each node)
    val modStay = out.map(_._6).sum
    assert(modStay < n / 4, s"mod-N kept $modStay of $n in place")
    // balance sanity: HRW spreads within 3x of uniform at n=2000
    assert(out.forall(r => r._2 > n / 24 && r._2 < n * 3 / 8))
  }
}
