package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-trained n-gram language-model scoring — the CCNet-style quality
  * signal (Wenzek et al. 2020: perplexity under a reference LM buckets
  * web text into head/middle/tail quality bands). Here the reference LM
  * is trained on the corpus itself in one pass: add-alpha-smoothed bigram
  * conditionals P(w2|w1) = (c(w1 w2) + a) / (c(w1 ·) + a·V).
  *
  * 100 TB shape:
  *  - Training is two corpus-aggregate tables: bigram counts (one
  *    explode + one partial-agged groupBy on the bigram key) and prefix
  *    counts DERIVED from the already-aggregated bigram table (a second
  *    groupBy over |vocab^2|-bounded rows, never a second corpus scan).
  *    Vocabulary size V is one countDistinct over the same exploded pass.
  *  - Scoring joins each document's bigrams against the count tables on
  *    the bigram/prefix keys — `shuffle_hash`-pinned (the count tables
  *    are corpus-vocabulary-sized; a sort-merge would sort the corpus,
  *    a broadcast would assume the vocabulary fits one executor; at real
  *    scale the LM would additionally be pruned to a top-V vocabulary
  *    with an <unk> bucket, which this API exposes via `topV`).
  *  - Per-document reduce is one partial-agged groupBy(id): sum of log
  *    conditionals and the bigram count; the returned nll is rounded to
  *    6 decimals for cross-engine double reproducibility.
  *
  * Documents with fewer than 2 tokens have no bigrams and are excluded
  * (the oracle replays the same rule).
  */
object LanguageModel {

  /** (id, w1, w2) positional bigrams of the whitespace token stream. */
  private def bigrams(toks: DataFrame): DataFrame =
    toks
      .select(col("id"), posexplode(slice(col("ts"), lit(1), size(col("ts")) - 1))
        .as(Seq("i", "w1")), col("ts"))
      .select(col("id"), col("w1"),
        element_at(col("ts"), col("i") + 2).as("w2"))

  /** Average negative log-likelihood per bigram under the corpus's own
    * add-alpha bigram LM: (id, n_bigrams, nll). Lower = more typical of
    * the corpus (CCNet "head"); higher = rare constructions or noise.
    * `topV` > 0 prunes the LM vocabulary to the topV most frequent
    * unigrams, mapping the rest to a shared <unk> token BEFORE counting —
    * the bounded-LM path real scale needs (0 = no pruning; the default,
    * and what the oracle replays). */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0, topV: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val raw = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)

    val toks =
      if (topV <= 0) raw
      else {
        // bounded collect: exactly topV vocabulary strings
        val keep = raw.select(explode(col("ts")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w").asc).limit(topV)
          .collect().map(_.getString(0))
        val kv = lit(keep)
        raw.select(col("id"), transform(col("ts"),
          w => when(array_contains(kv, w), w).otherwise(lit("<unk>"))).as("ts"))
      }

    val bi = bigrams(toks)
    // one corpus scan -> bigram count table; prefix counts + V derive
    // from already-reduced frames, not from re-scanning the corpus
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = toks.select(explode(col("ts")).as("w")).agg(
      countDistinct(col("w")).as("v")).head().getLong(0)

    val scored = bi
      .join(c2.hint("shuffle_hash"), Seq("w1", "w2"))
      .join(c1.hint("shuffle_hash"), Seq("w1"))
      .withColumn("lp", log((col("c2") + alpha) / (col("c1") + alpha * v)))
    scored.groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("ll"))
      .select(col("id").as(idCol), col("n_bigrams"),
        round(-col("ll") / col("n_bigrams"), 6).as("nll"))
  }

  /** Top token MOVERS between two corpus slices — the drill-down behind
    * [[sourceDrift]]'s one-number KL and Profile.psi's one-number index:
    * WHICH tokens are most over-represented on each side (new boilerplate
    * phrases, a vocabulary shift, an injected template). Score =
    * smoothed log-ratio ln(((ca+1)/Ta) / ((cb+1)/Tb)) with Ta/Tb the
    * add-one totals over the union vocabulary; rounded to 6 BEFORE
    * ranking so both engines rank identical values (ties on the token).
    *
    * 100 TB shape: two token-count tables (one explode each), a
    * token-keyed full-outer join — vocabulary-sized, never corpus-sized
    * — totals as one broadcast row, and the two top-k cuts via
    * orderBy+limit (TakeOrderedAndProject: per-partition heaps, no
    * global sort, no vocabulary-sized window). `minCount` suppresses
    * noise tokens. Output: (direction 'up'|'down', rk, token, n_a, n_b,
    * score). */
  def tokenMovers(a: DataFrame, b: DataFrame, textCol: String, k: Int,
      minCount: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && minCount >= 0, "need k >= 1, minCount >= 0")
    def counts(df: DataFrame, as: String): DataFrame = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as(as))
    val j = counts(a, "ca").join(counts(b, "cb"), Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("ca"), lit(0L)).as("n_a"),
        coalesce(col("cb"), lit(0L)).as("n_b"))
      .filter(col("n_a") + col("n_b") >= minCount)
    val totals = j.agg(sum(col("n_a") + 1L).as("ta"),
      sum(col("n_b") + 1L).as("tb"))
    val scored = j.crossJoin(broadcast(totals))
      .select(col("token"), col("n_a"), col("n_b"),
        round(log(((col("n_a") + 1L).cast("double") / col("ta")) /
          ((col("n_b") + 1L).cast("double") / col("tb"))), 6).as("score"))
    def cut(dir: String, ord: Seq[Column]): DataFrame = {
      val w = Window.orderBy(ord: _*)
      // k-row frame after the TakeOrdered limit — not a vocab-sized window
      scored.orderBy(ord: _*).limit(k)
        .withColumn("rk", row_number().over(w).cast("long"))
        .select(lit(dir).as("direction"), col("rk"), col("token"),
          col("n_a"), col("n_b"), col("score"))
    }
    cut("up", Seq(col("score").desc, col("token").asc))
      .unionAll(cut("down", Seq(col("score").asc, col("token").asc)))
  }

  /** Top-k SKIP-GRAM co-occurrence pairs: ordered token pairs within a
    * `window`-token span, counted corpus-wide — [[pmiCollocations]]'
    * wider-context sibling (adjacent bigrams find fixed phrases;
    * window-w pairs find collocations that tolerate interveners:
    * "turn ... off", "neither ... nor" — the word2vec context
    * definition). The count table is the input to any windowed-PMI or
    * embedding-style analysis.
    *
    * 100 TB shape: pair generation is ONE narrow nested-transform
    * Generate per document (fan-out <= window x tokens, no self-join of
    * positions), the count is a partial-agged groupBy on the pair key,
    * and the top-k is TakeOrderedAndProject — never a full sort. Ties
    * break (count desc, w1 asc, w2 asc). Output: (w1, w2, n). */
  def skipgramTopK(docs: DataFrame, textCol: String, window: Int,
      k: Int): DataFrame = {
    require(window >= 1 && k >= 1, "window and k must be >= 1")
    val ws = TextFunctions.tokens(col(textCol))
    // pairs at distance d are the array zipped with its d-shift — native
    // slice + arrays_zip + concat, all codegen'd. The tempting nested
    // transform(sequence, i -> transform(sequence, j -> struct(...)))
    // build is INTERPRETED (higher-order lambdas skip codegen) and
    // measured 20x slower at sf0.1 (21.6s -> ~1s)
    val zips = (1 to window).map { d =>
      val len = greatest(size(ws) - d, lit(0))
      arrays_zip(slice(ws, lit(1), len).as("w1"),
        slice(ws, lit(d + 1), len).as("w2"))
    }
    docs.select(explode(concat(zips: _*)).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Interpolated TRIGRAM LM scoring — [[bigramNll]]'s longer-context
    * sibling (Jelinek-Mercer interpolation: p = l1*p1 + l2*p2 + l3*p3
    * over add-alpha unigram/bigram/trigram estimates). The interpolation
    * is what makes a sparse trigram table usable: an unseen trigram backs
    * off smoothly to its bigram/unigram mass instead of falling to the
    * smoothing floor, so the score separates "novel but well-formed" from
    * "malformed" better than the pure bigram model.
    *
    * Same 100 TB skeleton as [[bigramNll]]: ONE trigram explode feeds the
    * c3 table; the bigram/unigram tables derive from the same filtered
    * doc set; all five scoring joins are shuffle_hash-pinned on n-gram
    * keys (no vocabulary broadcast). The tokenized frame is persisted
    * (lazy fill, released when the owner scope exits) so the one plan that
    * consumes it four ways — trigram probe, c3, c2, c1 — tokenizes the
    * corpus once, and (T, V) rides along as a broadcast 1-row frame
    * instead of a separate driver action (round 10: the action shape
    * re-tokenized the corpus for the scalars and again per count table;
    * identical doubles — T + alpha*V is the same IEEE expression, now
    * computed from the 1-row frame's exact longs).
    * Docs need >= 3 tokens. Output: (id, n_trigrams, nll rounded 6). */
  def trigramNllInterp(docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0, l1: Double = 0.1, l2: Double = 0.3,
      l3: Double = 0.6): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.plans.Persists.onScopeEnd(() => toks.unpersist(blocking = false))
    val tri = toks
      .select(col("id"), posexplode(slice(col("ts"), lit(1), size(col("ts")) - 2))
        .as(Seq("i", "w1")), col("ts"))
      .select(col("id"), col("w1"),
        element_at(col("ts"), col("i") + 2).as("w2"),
        element_at(col("ts"), col("i") + 3).as("w3"))
    val c3 = tri.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val c2 = bigrams(toks).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = toks.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    // (T, V) as a broadcast 1-row frame: __tav = T + alpha*V and
    // __av = alpha*V are the exact same double expressions the former
    // driver-side fold computed from the collected longs
    val st = c1.agg(sum(col("c1")).as("t"), count(lit(1)).as("v"))
      .select((col("t") + lit(alpha) * col("v")).as("__tav"),
        (lit(alpha) * col("v")).as("__av"))
    val scored = tri
      .join(c3.hint("shuffle_hash"), Seq("w1", "w2", "w3"))
      .join(c2.toDF("w1", "w2", "c2a").hint("shuffle_hash"), Seq("w1", "w2"))
      .join(c2.toDF("w2", "w3", "c2b").hint("shuffle_hash"), Seq("w2", "w3"))
      .join(c1.toDF("w2", "c1b").hint("shuffle_hash"), Seq("w2"))
      .join(c1.toDF("w3", "c1c").hint("shuffle_hash"), Seq("w3"))
      .crossJoin(broadcast(st))
      // fixed l1+l2+l3 term order — the oracle repeats the association
      .withColumn("lp", log(
        lit(l1) * (col("c1c") + alpha) / col("__tav") +
        lit(l2) * (col("c2b") + alpha) / (col("c1b") + col("__av")) +
        lit(l3) * (col("c3") + alpha) / (col("c2a") + col("__av"))))
    scored.groupBy(col("id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("lp")).as("ll"))
      .select(col("id").as(idCol), col("n_trigrams"),
        round(-col("ll") / col("n_trigrams"), 6).as("nll"))
  }

  /** CCNet's head/middle/tail banding: tertile buckets of [[bigramNll]].
    * The scored frame is persisted around the two passes (threshold agg +
    * band scan; blocks released when the owner scope exits); the
    * tertile cut points are an O(1) driver collect — `percentile()` here
    * is a one-group aggregate over one double per document, the same
    * bounded shape as the x13 gate. At petabyte document counts swap the
    * threshold pass to [[Percentiles.exactSorted]] (identical values,
    * bounded executor memory) — the banding scan is unchanged. */
  def qualityBands(docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0, topV: Int = 0): DataFrame = {
    val scored = bigramNll(docs, idCol, textCol, alpha, topV)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    graft.plans.Persists.onScopeEnd(() => scored.unpersist())
    val th = scored.agg(
      expr("percentile(nll, 1.0/3)").as("t1"),
      expr("percentile(nll, 2.0/3)").as("t2")).head()
    val (t1, t2) = (th.getDouble(0), th.getDouble(1))
    scored.select(col(idCol), col("nll"),
      when(col("nll") <= t1, lit("head"))
        .when(col("nll") <= t2, lit("middle"))
        .otherwise(lit("tail")).as("band"))
  }

  /** PMI collocation mining (Church & Hanks 1990): score every adjacent
    * word pair by pointwise mutual information,
    * `pmi = ln( (c_ab / N_bi) / ((c_a / N_tok) * (c_b / N_tok)) )` —
    * high-PMI pairs are multiword units ("phrase table") used for
    * tokenizer audits, boilerplate phrase discovery, and n-gram merging
    * before dedup.
    *
    * 100 TB shape: ONE corpus explode feeds the positional bigram count
    * table (partial-agged groupBy on the pair key); unigram counts and
    * both totals derive from already-vocabulary-bounded frames — the
    * corpus is never re-scanned. Scoring joins are on the vocabulary
    * count tables only (broadcast: a pruned top-V vocabulary fits one
    * executor by construction; see [[bigramNll]]'s `topV` note).
    *
    * All counts stay long; the single per-row double expression is
    * ordered identically to the DuckDB replay, rounded to 6 decimals.
    * Output: (w1, w2, c_ab long, pmi double), filtered to
    * `c_ab >= minCount`.
    */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
    val bi = bigrams(toks)
    // both count tables are consumed twice (scoring joins + totals);
    // persist the REDUCED frames so each corpus explode runs exactly once
    // — released when the owner scope exits
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // unigram counts over ALL token positions (not just bigram lefts):
    // derived from one explode of the same token frame
    val c1 = toks.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val totals = c2.agg(sum(col("c_ab")).as("n_bi"))
      .crossJoin(c1.agg(sum(col("c_w")).as("n_tok")))
    graft.plans.Persists.onScopeEnd(() => { c2.unpersist(); c1.unpersist() })
    c2.filter(col("c_ab") >= minCount)
      .join(broadcast(c1.withColumnRenamed("w", "w1")
        .withColumnRenamed("c_w", "c_a")), Seq("w1"))
      .join(broadcast(c1.withColumnRenamed("w", "w2")
        .withColumnRenamed("c_w", "c_b")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(
          (col("c_ab").cast("double") * col("n_tok").cast("double") *
            col("n_tok").cast("double")) /
          (col("n_bi").cast("double") * col("c_a").cast("double") *
            col("c_b").cast("double"))), 6).as("pmi"))
  }

  /** Source-drift report: symmetric KL divergence between two corpus
    * slices' token distributions, restricted to the top-k tokens by
    * combined count (the BM25 pattern — the driver sees k rows, never the
    * vocabulary) with add-one smoothing over the restricted counts.
    *
    * Reproducibility: the divergence is a sum of k ln-terms, and floating
    * summation order matters — so BOTH engines sum in canonical ascending
    * token order (here a driver-side foldLeft over the k collected rows;
    * the oracle uses DuckDB's ordered aggregate `sum(... ORDER BY
    * token)`), making the double bit-identical. Output: one row
    * (n_tokens_a, n_tokens_b, kl_ab, kl_ba) rounded to 6.
    *
    * 100 TB shape: one partial-agged (token, source) count shuffle; the
    * top-k cut is TakeOrdered; everything after runs on k rows.
    */
  def sourceDrift(docs: DataFrame, textCol: String, sourceCol: String,
      srcA: String, srcB: String, k: Int): DataFrame = {
    require(k >= 1 && srcA != srcB, "need k >= 1 and distinct sources")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs
      .filter(col(sourceCol).isin(srcA, srcB))
      .select(col(sourceCol).as("src"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(
        sum(when(col("src") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("src") === srcB, 1L).otherwise(0L)).as("cb"))
      .orderBy((col("ca") + col("cb")).desc, col("tok").asc)
      .limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1) // canonical ascending-token fold order
    val na = counts.map(_._2 + 1L).sum.toDouble // add-one smoothed totals
    val nb = counts.map(_._3 + 1L).sum.toDouble
    val (klAb, klBa) = counts.foldLeft((0.0, 0.0)) {
      case ((ab, ba), (_, ca, cb)) =>
        val p = (ca + 1L).toDouble / na
        val q = (cb + 1L).toDouble / nb
        (ab + p * math.log(p / q), ba + q * math.log(q / p))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((counts.map(_._2).sum, counts.map(_._3).sum, r6(klAb), r6(klBa)))
      .toDF("n_tokens_a", "n_tokens_b", "kl_ab", "kl_ba")
  }

  /** Per-LANGUAGE perplexity tertile bucketing — the faithful CCNet shape
    * (Wenzek et al. 2020 band per language, since perplexity scales are
    * not comparable across languages), and the bounded-memory sibling of
    * [[qualityBands]]' global interpolated percentiles: boundaries here
    * are ORDER STATISTICS on an integer grid, never an interpolation.
    *
    * The per-doc [[trigramNllInterp]] score (already rounded to 6
    * decimals, cross-engine exact) is quantized to an integer milli-grid
    * (round(nll*1000)); because nll is bounded by the LM's vocabulary
    * smoothing (ln of bounded ratios — single digits in practice), the
    * grid codomain is a few thousand cells REGARDLESS of corpus size.
    * Tertile boundaries per lang are then exact integer logic on the
    * (lang, grid-cell) count frame: b1 = smallest grid value whose
    * cumulative count reaches n/3 (cum*3 >= n — no ceil, no division),
    * b2 likewise for 2n/3. Docs bucket by comparing their OWN grid value
    * to the broadcast boundaries: head (<= b1) / middle (<= b2) / tail.
    *
    * 100 TB shape: the only window runs over the (lang x grid)-sized
    * count frame (bounded state per lang by the grid width, NOT by the
    * corpus); documents are never globally ordered — the x183 prefix-sum
    * decomposition applied to quantile selection.
    * Output: (id, lang, nll_milli, bucket) per scored doc. */
  def perLangPerplexityBuckets(docs: DataFrame, idCol: String,
      textCol: String, langCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val nll = trigramNllInterp(docs, idCol, textCol)
    // the scored frame is consumed TWICE (tertile-bound derivation +
    // the final banding scan); persisting the slim (id, lang, milli)
    // projection runs the whole five-join trigram chain once (round 10:
    // the unpersisted shape ran it twice — 29 AQE stage jobs)
    val d = nll
      .join(docs.select(col(idCol), col(langCol).as("lang")), Seq(idCol))
      .select(col(idCol).as("id"), col("lang"),
        round(col("nll") * 1000).cast("long").as("nll_milli"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.plans.Persists.onScopeEnd(() => d.unpersist(blocking = false))
    val grid = d.groupBy(col("lang"), col("nll_milli"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        w.partitionBy(col("lang")).orderBy(col("nll_milli"))
          .rowsBetween(w.unboundedPreceding, w.currentRow)))
    val tot = grid.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
    val bounds = grid.join(tot, Seq("lang"))
      .groupBy(col("lang"))
      .agg(min(when(col("cum") * 3 >= col("n"), col("nll_milli"))).as("b1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("nll_milli"))).as("b2"))
    d.join(broadcast(bounds), Seq("lang"))
      .select(col("id"), col("lang"), col("nll_milli"),
        when(col("nll_milli") <= col("b1"), "head")
          .when(col("nll_milli") <= col("b2"), "middle")
          .otherwise("tail").as("bucket"))
  }
}
