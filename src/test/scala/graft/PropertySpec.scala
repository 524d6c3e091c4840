package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{ColType, ColumnDef}
import graft.operators.{BuiltinSteps, Dedup, TableDiff}
import graft.plans.{Context, ErrorPolicy, Events, Phase, RowNum, Step}

/** ScalaCheck property layer (SURVEY §5 rebuild plan item 4): cast
  * round-trips, dedup idempotence, row-number stability, diff
  * reconstruction. The scalatest-scalacheck bridge isn't in the offline
  * dependency cache, so generators are sampled with deterministic seeds
  * (5 cases per property; Spark actions dominate runtime anyway). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def ctx = new Context(spark)

  /** Deterministically sample `n` values from a generator. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private def forAll[A](g: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    samples(g, n).foreach(body)

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private def applyCol(cdef: ColumnDef, values: Seq[String]): Seq[Any] = {
    val df = values.toDF(cdef.name)
    val base = Events.withEventsCol(df)
    val (value, update) = cdef.compile(base(cdef.name))
    base.withColumns(Map(cdef.name -> value,
        Events.EventsCol -> update(base(Events.EventsCol))))
      .select(col(cdef.name)).collect().map(_.get(0)).toSeq
  }

  test("property: long -> string -> IntColumn cast round-trips") {
    forAll(Gen.listOfN(20, Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))) { ns =>
      whenever(ns.nonEmpty) {
        val got = applyCol(ColumnDef("n", ColType.IntT), ns.map(_.toString))
        assert(got == ns)
      }
    }
  }

  test("property: double -> string -> FloatColumn cast round-trips") {
    forAll(Gen.listOfN(20, Gen.chooseNum(-1e12, 1e12))) { ds =>
      whenever(ds.nonEmpty) {
        val got = applyCol(ColumnDef("x", ColType.FloatT), ds.map(_.toString))
        assert(got == ds)
      }
    }
  }

  test("property: drop_duplicate_rows is idempotent") {
    val keyGen = Gen.oneOf("a", "b", "c", "d")
    forAll(Gen.listOfN(30, Gen.zip(keyGen, Gen.chooseNum(0, 100)))) { rows =>
      whenever(rows.nonEmpty) {
        val df = RowNum.assign(rows.toDF("k", "v"))
        val once = BuiltinSteps.dropDuplicateRows(Seq("k"))(df, ctx, "p")
        val twice = BuiltinSteps.dropDuplicateRows(Seq("k"))(once, ctx, "p")
        val a = once.select("k", "v").collect().map(r => (r.getString(0), r.getInt(1))).toSet
        val b = twice.select("k", "v").collect().map(r => (r.getString(0), r.getInt(1))).toSet
        assert(a == b)
        assert(once.select("k").distinct().count() == once.count())
      }
    }
  }

  test("property: row numbers are stable under filter then sort") {
    forAll(Gen.listOfN(25, Gen.chooseNum(0, 1000))) { vs =>
      whenever(vs.nonEmpty) {
        val df = RowNum.assign(vs.toDF("v"))
        val before = df.select(col("v"), col(Events.RowNumCol)).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSet
        val after = df.filter(col("v") % 2 === 0).orderBy(col("v"))
          .select(col("v"), col(Events.RowNumCol)).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSet
        assert(after.subsetOf(before)) // numbers survive both transformations
      }
    }
  }

  test("property: diff counters reconstruct the symmetric difference") {
    val rowGen = Gen.zip(Gen.chooseNum(1L, 30L), Gen.chooseNum(0, 5))
    forAll(Gen.zip(Gen.listOfN(15, rowGen), Gen.listOfN(15, rowGen))) { case (l1, l2) =>
      val m1 = l1.toMap
      val m2 = l2.toMap
      val f1 = m1.toSeq.toDF("id", "v").withColumn(Events.RowNumCol, col("id"))
      val f2 = m2.toSeq.toDF("id", "v").withColumn(Events.RowNumCol, col("id"))
      val c = TableDiff.counters(TableDiff.diff(f1, f2))
      val added = m2.keySet.diff(m1.keySet).size
      val removed = m1.keySet.diff(m2.keySet).size
      val common = m1.keySet.intersect(m2.keySet)
      val changed = common.count(k => m1(k) != m2(k))
      assert((c.added, c.removed, c.changed, c.unchanged) ==
        (added.toLong, removed.toLong, changed.toLong, (common.size - changed).toLong))
    }
  }

  test("property: bucketed intervalJoin equals the naive range join for random intervals") {
    val ptGen = Gen.listOfN(40, Gen.chooseNum(-200L, 200L))
    val ivGen = Gen.listOfN(12, for {
      lo <- Gen.chooseNum(-150L, 150L)
      w <- Gen.chooseNum(0L, 80L) // 0-width intervals are legal (match nothing)
    } yield (lo, lo + w))
    val stepGen = Gen.oneOf(1L, 7L, 10L, 64L, 1000L)
    forAll(Gen.zip(ptGen, ivGen, stepGen)) { case (pts, ivs, step) =>
      val points = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pid", "v")
      val intervals = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val naive = points.join(intervals, col("v") >= col("lo") && col("v") < col("hi"))
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val got = graft.operators.RangeJoin
        .intervalJoin(points, intervals, "v", "lo", "hi", step)
        .select("pid", "iid").as[(Long, Long)].collect().toList
      assert(got.toSet == naive && got.size == naive.size,
        s"step=$step mismatch: ${got.toSet.diff(naive)} / ${naive.diff(got.toSet)}")
    }
  }

  test("property: exact jaccard pairs are symmetric-free and within [0,1]") {
    val wordGen = Gen.oneOf("red", "blue", "green", "dog", "cat")
    val docGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))
    forAll(Gen.listOfN(10, docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val pairs = Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.forall { case (a, b, j) => a < b && j >= 0.0 && j <= 1.0 })
    }
  }

  test("property: IVF assign/probes codegen == interpreted eval == Scala replay") {
    // The hand-written doGenCode is the classic divergence risk: the
    // DataFrame path runs the GENERATED loop, a direct eval() runs
    // nullSafeEval, and the replay below recomputes scores with the same
    // left-to-right IEEE fold from the same JVM sign matrix. All three
    // must agree — including short vectors (zero-padded), null elements
    // (as 0.0), the zero vector (all-ties: assign -> lowest ci, probes
    // -> highest ci first), and negative components.
    import graft.functions.IvfExpressions
    val c = 8; val dims = 16; val np = 3
    val signs = IvfExpressions.signMatrix(c, dims)
    def replayScores(v: Seq[Option[Double]]): Array[Double] =
      Array.tabulate(c) { ci =>
        var s = 0.0
        (0 until dims).foreach { d =>
          s += signs(ci)(d) * (if (d < v.length) v(d).getOrElse(0.0) else 0.0)
        }
        s
      }
    def replayAssign(v: Seq[Option[Double]]): Int = {
      val sc = replayScores(v)
      var bi = 0
      (1 until c).foreach(ci => if (sc(ci) > sc(bi)) bi = ci)
      bi
    }
    def replayProbes(v: Seq[Option[Double]]): Seq[Int] =
      replayScores(v).zipWithIndex
        .sortBy { case (s, ci) => (-s, -ci) }.take(np).map(_._2).toSeq

    val vecGen = for {
      n <- Gen.choose(0, dims + 4) // short, exact, and over-length vectors
      v <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.choose(-5.0, 5.0).map(Option(_)),
        1 -> Gen.const(Option(0.0)),
        1 -> Gen.const(Option.empty[Double])))
    } yield v
    val cases = samples(vecGen, 8) :+ Seq.fill(dims)(Option(0.0)) // all-ties row
    val df = cases.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val out = df.select(col("id"),
        IvfExpressions.assign(spark, col("vec"), c, dims).as("bucket"),
        IvfExpressions.probes(spark, col("vec"), c, np, dims).as("probes"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getSeq[Int](2))).toMap
    cases.zipWithIndex.foreach { case (v, i) =>
      val (bucket, probes) = out(i.toLong)
      assert(bucket == replayAssign(v), s"assign diverged on case $i: $v")
      assert(probes == replayProbes(v), s"probes diverged on case $i: $v")
    }
  }

  test("property: funnelWithin(huge window) equals the unbounded funnel on distinct-ts timelines") {
    // with DISTINCT per-user timestamps the two walks agree: no window
    // constraint binds, and strict-vs-non-strict tie semantics (the one
    // intended difference) never trigger. Random event streams over the
    // step alphabet + noise types.
    val typeGen = Gen.oneOf("A", "B", "C", "noise1", "noise2")
    val evGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(1L, 4L), typeGen))
    forAll(evGen) { rows =>
      // distinct ts per user: index-derived timestamps
      val ev = rows.zipWithIndex.map { case ((u, t), i) =>
        (u, t, new java.sql.Timestamp(1704067200000L + i * 1000L), i.toLong)
      }.toDF("user_id", "event_type", "ts", "event_id")
      val steps = Seq("A", "B", "C")
      val unbounded = graft.operators.EventAnalytics
        .funnel(ev, "user_id", "event_type", "ts", steps)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val windowed = graft.operators.EventAnalytics
        .funnelWithin(ev, "user_id", "event_type", "ts", steps,
          windowSeconds = 1000000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(windowed == unbounded,
        s"funnel variants diverged: $windowed vs $unbounded")
    }
  }

  test("property: graft_ngrams equals the slide-and-join reference over random unicode tokens") {
    // tokens drawn from a unicode-ish alphabet, no whitespace (split
    // semantics); doc sizes straddle n so the empty-below-n edge fires
    val tokGen = Gen.nonEmptyListOf(
      Gen.oneOf("a", "bb", "cßé", "日本", "x7", "_", "émü")).map(_.take(12))
    forAll(Gen.zip(tokGen, Gen.chooseNum(1, 4)), n = 8) { case (toks, n) =>
      val text = toks.mkString(" ")
      val ws = text.split(" ", -1).toSeq
      val want =
        if (ws.size < n) Seq.empty[String]
        else (0 to ws.size - n).map(i => ws.slice(i, i + n).mkString(" "))
      val got = Seq(Tuple1(text)).toDF("text")
        .select(graft.functions.TextFunctions.ngrams(col("text"), n).as("g"))
        .head().getSeq[String](0)
      assert(got == want, s"n=$n toks=$toks")
    }
  }

  test("property: graft_winnow equals the md5 window-min replay over random docs") {
    def md5l(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    def replay(toks: Seq[String], k: Int, w: Int): Set[Long] = {
      val hs = toks.sliding(k).filter(_.length == k)
        .map(g => md5l(g.mkString(" "))).toVector
      if (hs.isEmpty) Set.empty
      else (0 until math.max(hs.size - w + 1, 1))
        .map(i => hs.slice(i, i + w).min).toSet
    }
    val tokGen = Gen.nonEmptyListOf(
      Gen.oneOf("p", "qq", "röt", "漢字", "z9")).map(_.take(15))
    forAll(Gen.zip(tokGen, Gen.chooseNum(1, 4), Gen.chooseNum(1, 5)),
        n = 8) { case (toks, k, w) =>
      val got = graft.operators.Dedup.winnowingFingerprints(
          Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"),
          "doc_id", "text", k, w)
        .collect().map(_.getLong(1)).toSet
      assert(got == replay(toks, k, w), s"k=$k w=$w toks=$toks")
    }
  }

  test("property: the status bits agree with the event array on every kept row") {
    // declared columns a..c under random Warn/Collect/DropRow policies, then
    // a random sequence of steps over the undeclared column d: FlagRows
    // under each policy, an enrichment batch that appends warnings with
    // appendTerm after a lookup join, and batch steps that append ERROR and
    // DROPPED_ROW events to the array directly
    val lookup = Seq("1", "4", "9").toDF("k")
    def enrich(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val joined = d.join(broadcast(lookup), d("d") === lookup("k"), "left")
      joined.withColumn(Events.EventsCol, concat(joined(Events.EventsCol),
        Events.appendTerm(joined("k").isNull, Events.WarningType, "enrich",
          concat(lit("no lookup for "), col("d")), ErrorPolicy.Warn))).drop("k")
    }
    def rawAppend(etype: String, cond: org.apache.spark.sql.Column)(
        d: org.apache.spark.sql.DataFrame) =
      d.withColumn(Events.EventsCol, Events.append(d(Events.EventsCol), cond,
        etype, s"raw_$etype", lit("appended directly"), ErrorPolicy.Collect))
    val catalog: IndexedSeq[Step] = IndexedSeq(
      Step.warnRowsWhen("warn_4", col("d") === "4", "four"),
      Step.errorRowsWhen("error_x", col("d") === "x", "x"),
      Step.dropRowsWhen("drop_blank", col("d") === "", "blank"),
      Step.FlagRows("mark_9", col("d") === "9", lit("nine"), ErrorPolicy.Collect,
        Events.DroppedType),
      Step.errorRowsWhen("stop_never", col("d") === "never", "never",
        ErrorPolicy.StopNow),
      Step.batch("enrich")((d, _) => enrich(d)),
      Step.batch("raw_error")((d, _) =>
        rawAppend(Events.ErrorType, col(Events.RowNumCol) % 4 === 0)(d)),
      Step.batch("raw_drop")((d, _) =>
        rawAppend(Events.DroppedType, col(Events.RowNumCol) % 7 === 0)(d)))
    val policyGen = Gen.oneOf(ErrorPolicy.Warn, ErrorPolicy.Collect, ErrorPolicy.DropRow)
    val cellGen = Gen.oneOf("1", "4", "9", "12", "-2", "x", "")
    val caseGen = for {
      policies <- Gen.listOfN(3, policyGen)
      nCols <- Gen.chooseNum(0, 3)
      steps <- Gen.listOfN(4, Gen.chooseNum(0, catalog.size - 1))
      rows <- Gen.listOfN(40, Gen.listOfN(4, cellGen))
    } yield (policies.take(nCols), steps.map(catalog), rows)
    var seen = Set.empty[Int]
    forAll(caseGen, n = 8) { case (policies, steps, rows) =>
      val df = RowNum.assign(rows.map(r => (r(0), r(1), r(2), r(3)))
        .toDF("a", "b", "c", "d"))
      val columns = policies.zip(Seq("a", "b", "c")).map { case (p, n) =>
        ColumnDef(n, ColType.IntT, minValue = Some(0), maxValue = Some(10),
          onErrorOpt = Some(p))
      }
      val out = Phase("P", columns = columns, steps = steps)(df, ctx)
      val got = out.select(col(Events.StatusCol), col(Events.EventsCol + ".etype"))
        .collect().map(r => (r.getInt(0), r.getSeq[String](1)))
      got.foreach { case (status, etypes) =>
        seen += status
        val failed = etypes.exists(t => t == Events.ErrorType || t == Events.DroppedType)
        val dropped = etypes.contains(Events.DroppedType)
        assert(((status & Events.FailedBit) != 0) == failed &&
          ((status & Events.DroppedBit) != 0) == dropped,
          s"status $status vs events $etypes (policies $policies, steps ${steps.map(_.name)})")
      }
    }
    // the samples must exercise every status, or the property is vacuous
    assert(seen == Set(0, Events.FailedBit, Events.FailedBit | Events.DroppedBit), seen)
  }
}
