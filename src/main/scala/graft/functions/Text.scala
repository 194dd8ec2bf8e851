package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines.
  * All pure Column expressions (whole-stage codegen; no UDFs), so they
  * vectorize over 100 TB of documents and push through Catalyst.
  *
  * Beyond the reference surface (it has no string functions, SURVEY §2.9) —
  * these are the additive LLM-pipeline operators.
  */
object Text {

  /** Whitespace token count. Uses the replace-counting identity so the exact
    * same formula is expressible in any SQL dialect (oracle parity). */
  def tokenCount(text: Column): Column = {
    val t = trim(text)
    when(length(t) === 0, 0)
      .otherwise(length(t) - length(regexp_replace(t, " ", "")) + 1)
  }

  /** Tokens as an array (single-space separated corpora). */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** Word n-gram shingles, e.g. n=3 → "a b c" strings. Pure HOF expression:
    * transform over an index sequence + slice + concat_ws. */
  def shingles(text: Column, n: Int): Column = {
    val ws = tokens(text)
    when(size(ws) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
  }

  /** Quality score ∈ [0,1]: penalizes very short docs, rewards moderate
    * average token length and low repetition (distinct-token ratio).
    * Deterministic arithmetic only — exact on any engine. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val nChar = length(trim(text)).cast("double")
    val avgTokLen = when(nTok > 0, nChar / nTok).otherwise(0.0)
    val distinctRatio =
      when(nTok > 0, size(array_distinct(tokens(text))).cast("double") / nTok)
        .otherwise(0.0)
    val lengthOk = least(nTok / lit(50.0), lit(1.0))
    val tokLenOk = when(avgTokLen >= 3 && avgTokLen <= 10, 1.0).otherwise(0.5)
    round(lengthOk * 0.4 + tokLenOk * 0.3 + distinctRatio * 0.3, 6)
  }

  /** Language-ID by stopword-hit scoring over a tiny per-language lexicon —
    * the classic n-gram/stopword heuristic. Returns the argmax language code
    * (ties broken by lexicon order). */
  val stopwordLexicon: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  def langId(text: Column): Column = {
    val ws = tokens(text)
    val scores = stopwordLexicon.map { case (lang, words) =>
      // ONE traversal per language with an integer accumulator — a
      // lexicon word's occurrence count summed via IN-set membership
      // (lexicon words are distinct within a language, so Σ per-word
      // counts ≡ count of tokens in the set). The per-word
      // size(filter(...)) form paid |lexicon| array traversals AND a
      // filtered-array allocation each — 25 passes/doc (round-14 bench,
      // once forcing stopped pruning the projection: 2.4 s → this form)
      val score = aggregate(ws, lit(0),
        (acc, t) => acc + when(t.isin(words: _*), 1).otherwise(0))
      (lang, score)
    }
    // argmax with first-wins tie-break, as a fold over (bestLang, bestScore)
    scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bl, bs), (lang, score)) =>
        (when(score > bs, lit(lang)).otherwise(bl), greatest(score, bs))
    }._1
  }

  /** Document fingerprint: hash of the punctuation/whitespace-normalized,
    * lowercased text — the standard exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** Vocabulary-identity fingerprint: md5 of the sorted DISTINCT token set
    * — the bag-of-words dedup key. Collapses token-order and repetition
    * differences, so it catches shuffled/re-templated boilerplate that
    * defeats [[fingerprint]]'s character normalization (the same docs a
    * bigram LM flags — see bigramNll — but as an exact, joinable key). */
  def vocabFingerprint(text: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(tokens(text)))))

  /** Per-document most-repeated word n-gram — the core of the repetition
    * quality filters of large-scale corpus curation (flag docs whose top
    * n-gram repeats excessively). Distributed shape: explode n-grams →
    * map-side-partial count per (doc, gram) → per-doc top-1 window.
    * Deterministic tie-break (gram asc). Returns (doc_id, top_gram, n_rep). */
  def topNgramRepetition(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs.select(col(idCol).as("doc_id"),
      explode(Vectors.shinglesAllFast(n)(col(textCol))).as("gram"))
    val counts = g.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("c").desc, col("gram").asc)
    counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("doc_id"), col("gram").as("top_gram"), col("c").as("n_rep"))
  }

  /** Split documents into ≤`maxTokens`-token chunks with `overlap` shared
    * tokens between consecutive chunks — the context-window chunking of
    * training/RAG pipelines (the complement of `Packing`: packing merges
    * short docs into a budget, chunking splits long ones). Chunk i covers
    * tokens [i·stride, i·stride+maxTokens) with stride = maxTokens−overlap;
    * a doc at or under the budget stays one chunk. Compiled kernel +
    * posexplode — a pure fan-out, no shuffle.
    * Output: (doc_id, chunk_idx, chunk). */
  def chunkTokens(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int,
      overlap: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(chunkArray(maxTokens, overlap)(col(textCol))).as(Seq("chunk_idx", "chunk")))

  /** The chunk kernel of [[chunkTokens]] as a reusable array expression:
    * token windows [i·stride, i·stride+maxTokens) re-joined with spaces.
    * With overlap 0 this is the fixed-word-window "paragraph" splitter the
    * synthetic corpus needs (no newlines to split on). */
  def chunkArray(maxTokens: Int, overlap: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(overlap >= 0 && overlap < maxTokens, s"need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    udf { (text: String) =>
      val ws = if (text == null) Array.empty[String] else text.trim.split(" ", -1)
      val n = ws.length
      val nChunks =
        if (n <= maxTokens) 1
        else 1 + math.ceil((n - maxTokens).toDouble / stride).toInt
      Array.tabulate(nChunks) { i =>
        val start = i * stride
        ws.slice(start, math.min(start + maxTokens, n)).mkString(" ")
      }
    }
  }

  /** GPT-2-style pre-tokenizer pattern (simplified to the portable regex
    * subset): contractions, letter runs, digit runs, punctuation runs, each
    * optionally preceded by a space. The "BPE-ish regex" token count of the
    * training-data-pipeline brief — the piece count a byte-pair encoder
    * would start from. */
  val bpePattern: String = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** TF-IDF top-`k` terms per document. Plan: ONE explode + (doc, term)
    * hash agg for tf, materialized once (localCheckpoint — DataFrame
    * plans don't share subtrees, so deriving df from a second tf subplan
    * would pay the tokenize+agg twice); document frequency is a
    * map-side-partial term agg over the checkpoint (vocabulary-sized)
    * broadcast back to it. A term-PARTITIONED WINDOW over tf would reach
    * the same numbers with one less pass but puts every tf row of a stop
    * term into a single unsplittable window partition (~nDocs rows in one
    * task at corpus scale) — the skew-safe agg+broadcast shape is the one
    * that survives 100 TB. Corpus doc count joins as a 1-row broadcast.
    * Ranking is a window PARTITIONED by doc (parallel across docs — no
    * global sort). idf = ln((N+1)/(df+1)); ties broken by term so the
    * top-k is deterministic on any engine. */
  def tfidfTopTerms(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Par.widen: tokenize+explode+partial-agg is CPU-bound and otherwise
    // inherits a narrow scan's 1-2 tasks (single small parquet file)
    val d = Par.widen(docs.select(col(idCol), col(textCol)))
    val tf = d
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // vocabulary-sized on most corpora — but not guaranteed, so the
    // broadcast is gated on the materialized row count (gatedBroadcast):
    // above the session threshold fall back to the shuffle equi-join
    // rather than OOM the driver on a pathological vocabulary.
    val dfreqSide = gatedBroadcast(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")).localCheckpoint(true))
    val nDocs = d.agg(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(dfreqSide, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), round(col("score"), 6).as("score"))
  }

  /** Unigram negative-log-likelihood quality score — the perplexity-proxy
    * filter of CCNet-style curation, with the corpus itself as the language
    * model: p(t) = count(t)/N, doc score = avg over tokens of -ln p(t)
    * (high = surprising = likely junk; low = repetitive boilerplate).
    *
    * The per-token NLL is accumulated in FIXED POINT (micro-nats as longs):
    * float sums over unordered token sets are order-dependent in the last
    * ulps — across engines AND across Spark runs with different
    * partitioning — while integer sums are exact and order-free, which is
    * what makes this hash-verifiable. Plan: explode + vocabulary agg +
    * term-keyed join back + per-doc agg; the 1-row corpus total broadcasts. */
  def unigramNll(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("t"))
    val counts = tok.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    tok.join(counts, "t")
      .crossJoin(broadcast(total))
      .withColumn("nll_micro",
        round(-log(col("n_t") / col("n_total")) * lit(1e6)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("nll_micro")).as("nll_total"))
      .select(col("doc_id"), col("n_tok"),
        round(col("nll_total") / lit(1e6) / col("n_tok"), 4).as("avg_nll"))
  }

  /** VOCABULARY COVERAGE — the tokenizer-training precursor: rank the
    * corpus vocabulary by frequency and report, for each of the top
    * `vocabSize` terms, the cumulative fraction of all corpus tokens a
    * vocabulary cut at that rank would cover (the OOV-rate curve read
    * bottom-up). Output: (rank 1-based, term, ct, cov_ppm).
    *
    * The global ranking is the interesting part at 100 TB: a vocabulary is
    * NOT guaranteed model-sized (web-scale corpora reach 10⁸⁺ distinct
    * tokens), so an unpartitioned `Window ORDER BY count DESC` would
    * single-task it. Instead the (count desc, term asc) order is encoded
    * into ONE lexicographic key — zero-padded (10¹²−count) ++ ':' ++ term —
    * and both the rank and the running token sum ride the
    * `OrderedScan` distributed stitch over that key. Integer cumulative
    * sums make cov_ppm hash-exact (cum·10⁶ fits a long through ~9×10¹²
    * corpus tokens; beyond that, divide first or move to decimal128). */
  def vocabCoverage(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      vocabSize: Int,
      buckets: Int = 64): org.apache.spark.sql.DataFrame = {
    import graft.operators.OrderedScan
    val counts = docs.select(explode(tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("ct"))
      // a count at/above the pad base would make (base - ct) negative and
      // silently corrupt the lexicographic order — fail loudly instead
      // (10¹² occurrences of ONE token ≈ petabytes of it; raise the base
      // and width together if that day comes)
      .withColumn("__ok", when(col("ct") < lit(1000000000000L),
        concat(lpad((lit(1000000000000L) - col("ct")).cast("string"), 13, "0"),
          lit(":"), col("t")))
        .otherwise(raise_error(lit("vocabCoverage: token count exceeds the 10^12 key pad"))))
      .localCheckpoint(true) // ranked scan + total derive from one agg
    val total = counts.agg(sum(col("ct")).as("__tot"))
    OrderedScan.rowNumberAndSum(counts, "__ok", "__r0", "ct", "__cum", buckets)
      .withColumn("__cum", col("__cum").cast("long")) // integral-valued (< 2^53)
      .where(col("__r0") < vocabSize)
      .crossJoin(broadcast(total))
      .select((col("__r0") + 1).as("rank"), col("t").as("term"), col("ct"),
        expr("(__cum * 1000000) DIV __tot").as("cov_ppm"))
  }

  /** PMI BIGRAM COLLOCATIONS (word2phrase-style phrase mining): pointwise
    * mutual information ln(p(xy) / (p(x)p(y))) of adjacent token pairs,
    * in fixed-point micro-nats (rounded ONCE per bigram — the q119
    * convention), minimum bigram count `minCount`, top `topK` by
    * (pmi desc, bigram asc) — a deterministic total order, so the cut is
    * engine-exact. Plan: one unigram agg + one bigram agg (both map-side
    * partial); the unigram table joins back twice (vocabulary-sized —
    * size-gated broadcast); corpus totals are 1-row broadcasts; the top-k
    * is a reduce, never a global sort materialization. */
  def pmiBigrams(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      minCount: Long,
      topK: Int): org.apache.spark.sql.DataFrame = {
    val d = Par.widen(docs.select(col(textCol)))
    val toks = d.select(explode(tokens(col(textCol))).as("t"))
    val uni = gatedBroadcast(
      toks.groupBy(col("t")).agg(count(lit(1)).as("c1")).localCheckpoint(true))
    val n1 = toks.agg(count(lit(1)).as("n1"))
    val biAll = d.select(explode(shingles(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(true) // the total and the thresholded set share it
    val n2 = biAll.agg(sum(col("c2")).as("n2"))
    biAll.where(col("c2") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("t").as("w1"), col("c1").as("cx")), "w1")
      .join(uni.select(col("t").as("w2"), col("c1").as("cy")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi_u",
        round(log((col("c2") / col("n2")) /
          ((col("cx") / col("n1")) * (col("cy") / col("n1")))) * lit(1e6)).cast("long"))
      .orderBy(col("pmi_u").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
      .select(col("w1"), col("w2"), col("c2"), col("pmi_u"))
  }

  /** TEXTRANK keyword extraction (Mihalcea-Tarau 2004): PageRank over the
    * term co-occurrence graph — nodes are terms, edges are adjacent-token
    * pairs weighted by corpus count (both directions), rank follows
    * r' = (1−d)/N + d·Σ_in r(u)·w(u,v)/W(u) with damping d = 85/100.
    *
    * Entirely in FIXED POINT integers: r₀ = 10¹² DIV N, every contribution
    * is (r·w) DIV W then scaled 85/100 with integer DIVs in a fixed order —
    * so each iteration is engine-exact and the whole ladder replays in an
    * unrolled SQL oracle (the q124 integer-Lloyd pattern, on a graph).
    * Truncation loses mass (ranks sum slightly under 10¹²) identically on
    * every engine — fine for RANKING, which is what TextRank is for.
    *
    * Distributed shape: one bigram agg builds the edge list; each round is
    * edges ⋈ ranks (u-keyed) → contribution agg (v-keyed) — two key-parallel
    * shuffles per round, localCheckpoint between rounds to cut the lineage
    * ladder (the components/Lloyd discipline). Terms appearing only in
    * isolation (no bigram) have no edges and rank 0 — excluded, as in the
    * paper. Output: top `topK` (term, rank_u) by (rank desc, term). */
  def textRankTerms(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      iters: Int = 2,
      topK: Int = 20): org.apache.spark.sql.DataFrame = {
    require(iters >= 1 && topK >= 1, s"need iters/topK >= 1, got $iters/$topK")
    val bi = Par.widen(docs.select(col(textCol)))
      .select(explode(shingles(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("w"))
      .withColumn("u", split(col("bg"), " ").getItem(0))
      .withColumn("v", split(col("bg"), " ").getItem(1))
    val edges = bi.select(col("u"), col("v"), col("w"))
      .unionAll(bi.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      .localCheckpoint(true)
    val outW = edges.groupBy(col("u")).agg(sum(col("w")).as("wout"))
      .localCheckpoint(true)
    val nodes = outW.select(col("u").as("t"))
    val n = nodes.count() // model-sized scalar: the node count
    val base = 1000000000000L / math.max(n, 1L)
    var ranks = nodes.withColumn("r", lit(base)).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(outW, Seq("u"))
        .join(ranks.select(col("t").as("u"), col("r")), Seq("u"))
        // multiply BEFORE the integer division (r ≤ 10¹², w ≤ wout — no
        // overflow below ~9·10⁶ peak edge weight) — the oracle mirrors
        // this exact order
        .select(col("v").as("t"), expr("(r * w) DIV wout").as("c"))
        .groupBy(col("t")).agg(sum(col("c")).as("cin"))
      ranks = nodes.join(contrib, Seq("t"), "left")
        .select(col("t"),
          (lit(base * 15L / 100L) +
            expr("(85 * coalesce(cin, 0)) DIV 100")).as("r"))
        .localCheckpoint(true)
    }
    ranks.orderBy(col("r").desc, col("t").asc).limit(topK)
      .select(col("t").as("term"), col("r").as("rank_u"))
  }

  /** Multinomial NAIVE BAYES text classifier, trained AND applied on the
    * cluster — the model-based quality/domain filter of curation pipelines
    * (fasttext-shaped: bag-of-words × per-class log-probabilities), here
    * with add-one smoothing and the whole pipeline in FIXED POINT so
    * train→score→argmax is hash-verifiable cross-engine.
    *
    * Train: ONE (class, term) count agg over the exploded train split; class
    * token totals, vocabulary size, document priors all derive from it.
    * Per-(term,class) log-prob ln((ct+1)/(tot_c+V)) is rounded ONCE to long
    * micro-nats — integer sums downstream are order-free (the q119
    * convention), so scores are engine-exact. Terms unseen in a class (or in
    * training entirely) score the smoothed floor ln(1/(tot_c+V)).
    *
    * Score: (doc, term, tf) agg → cross join the #classes-row class-stats
    * table (broadcast) → LEFT join the observed model on (class, term) —
    * vocabulary-sized, so the broadcast is size-gated with a shuffle-join
    * fallback — → per-(doc, class) integer sum + prior → argmax via a
    * doc-partitioned window (parallel across docs; ties → lowest class).
    * Output: (doc_id, pred, score_u). Edge contracts: a class whose train
    * docs are all token-free contributes no model rows and drops from
    * scoring; a test doc with no tokens has no bag to score and is absent
    * from the output. */
  def naiveBayesPredict(
      train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      classCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val trainW = Par.widen(train.select(col(idCol), col(textCol), col(classCol)))
    val cnt = trainW
      .select(col(classCol).as("cls"), explode(tokens(col(textCol))).as("t"))
      .groupBy(col("cls"), col("t")).agg(count(lit(1)).as("ct"))
      .localCheckpoint(true) // tot_c, vocab AND the model derive from it
    val tot = cnt.groupBy(col("cls")).agg(sum(col("ct")).as("tot_c"))
    val vocab = cnt.agg(countDistinct(col("t")).as("v"))
    val nTrain = trainW.agg(countDistinct(col(idCol)).as("n_train"))
    val nCls = trainW.groupBy(col(classCol).as("cls"))
      .agg(countDistinct(col(idCol)).as("n_docs_c"))
    val classStats = nCls.join(tot, "cls")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(nTrain))
      .withColumn("prior_u",
        round(log(col("n_docs_c").cast("double") / col("n_train")) * lit(1e6)).cast("long"))
      .withColumn("default_u",
        round(log(lit(1.0) / (col("tot_c") + col("v"))) * lit(1e6)).cast("long"))
      .select(col("cls"), col("prior_u"), col("default_u"), col("tot_c"), col("v"))
      .localCheckpoint(true) // #classes rows; read by two joins below
    val model = gatedBroadcast(
      cnt.join(classStats.select(col("cls"), col("tot_c"), col("v")), "cls")
        .withColumn("lp_u",
          round(log((col("ct") + lit(1.0)) / (col("tot_c") + col("v"))) * lit(1e6)).cast("long"))
        .select(col("cls"), col("t"), col("lp_u"))
        .localCheckpoint(true))
    val dt = test
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val scored = dt
      .crossJoin(broadcast(classStats.select(col("cls"), col("prior_u"), col("default_u"))))
      .join(model, Seq("cls", "t"), "left")
      .groupBy(col("doc_id"), col("cls"))
      .agg((sum(col("tf") * coalesce(col("lp_u"), col("default_u")))
        + max(col("prior_u"))).as("score_u"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_u").desc, col("cls").asc)
    scored.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("doc_id"), col("cls").as("pred"), col("score_u"))
  }

  /** Heavy-hitter tokens via count-min sketch pruning with EXACT
    * verification (Cormode-Muthukrishnan CM-sketch): pass 1 treeAggregates
    * a model-sized sketch over the exploded tokens (no shuffle); pass 2
    * shuffles ONLY the rows whose token the sketch estimates at or above
    * `minCount` and counts them exactly. CMS never underestimates, so the
    * candidate set contains every true heavy hitter, and the exact count
    * trims the overestimates — the output is EXACTLY the true heavy-hitter
    * set (hash-verifiable against a plain GROUP BY ... HAVING oracle),
    * while the shuffle carries only heavy-candidate rows instead of the
    * full vocabulary. The scale path when the vocabulary dwarfs executor
    * memory; `eps`/`confidence` size the sketch (width ~ e/eps columns).
    * Output: (term, n) for every term with exact count >= minCount. */
  def heavyHitterTokens(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long,
      eps: Double = 1e-4,
      confidence: Double = 0.99): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(explode(tokens(col(textCol))).as("term"))
    val cms = tok.stat.countMinSketch("term", eps, confidence, seed = 42)
    val bc = docs.sparkSession.sparkContext.broadcast(cms)
    val isCandidate = udf { (t: String) =>
      t != null && bc.value.estimateCount(t) >= minCount
    }
    tok.where(isCandidate(col("term")))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** Rare-token redaction (vocabulary clamping): replace every token whose
    * DOCUMENT frequency is <= `maxDocFreq` with `mask` — the k-anonymity
    * flavor of PII scrubbing for training corpora (a token appearing in
    * one or two documents is identifying almost by definition). Plan: one
    * distinct (doc, token) projection feeds a token-keyed agg (vocabulary-
    * sized); the rare set left-joins back against the exploded tokens; the
    * doc is reassembled in token order inside a per-doc agg — partitioned
    * by doc, so fully parallel. Output (doc_id, n_redacted, text_md5):
    * md5 of the reconstructed text keeps the verified value compact. */
  def redactRareTokens(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Int = 2,
      mask: String = "<RARE>"): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "t")))
    val rare = tok.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq)
      .select(col("t"), lit(1).as("__rare"))
    tok.join(rare, Seq("t"), "left_outer")
      .select(col("doc_id"), col("pos"),
        when(col("__rare").isNotNull, lit(mask)).otherwise(col("t")).as("t2"),
        coalesce(col("__rare"), lit(0)).as("r"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("r")).cast("long").as("n_redacted"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("t2")))),
          x => x.getField("t2")), " ")).as("text_md5"))
  }

  /** Broadcast `small` only when its MATERIALIZED row count fits the
    * session's broadcast threshold (callers pass checkpointed frames, so
    * the count is a cheap local scan and AQE has no stats to decide from);
    * above it, return the frame untouched for a shuffle join. The single
    * definition keeps every vocabulary-sized join in this file on the same
    * safety valve. */
  private def gatedBroadcast(
      small: org.apache.spark.sql.DataFrame,
      bytesPerRow: Long = 64L): org.apache.spark.sql.DataFrame = {
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      small.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    if (threshold > 0 && small.count() * bytesPerRow <= threshold) broadcast(small) else small
  }

  /** Shared BM25 statistics: the (doc, term) tf agg checkpointed ONCE, the
    * per-doc lengths and document frequencies derived from it (never a
    * second tokenize pass), corpus stats as a 1-row frame. Both BM25 entry
    * points build on this. */
  private case class TermStats(
      tf: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame,
      dfreqSide: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame)

  private def termStats(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): TermStats = {
    val tf = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df")).localCheckpoint(true)
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    TermStats(tf, dl, gatedBroadcast(dfreq), stats)
  }

  /** The Okapi BM25 score of one (doc, term) row, over the joined
    * [[termStats]] columns. Lucene-style idf = ln(1 + (N - df + 0.5) /
    * (df + 0.5)) keeps scores positive. */
  private def bm25Score(k1: Double, b: Double): Column =
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))

  /** Okapi BM25 index-time term weights, top `kTop` per document — the
    * retrieval-side sibling of [[tfidfTopTerms]] (same plan: one explode +
    * (doc, term) agg checkpointed once; document frequency and the corpus
    * length stats derive from it; ranking windows partition by doc).
    * k1/b are the standard 1.2/0.75. Scores round to 6 dp on both engines
    * (the q115 convention). */
  def bm25TopTerms(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      kTop: Int,
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = termStats(docs, idCol, textCol)
    // dl is doc-count-sized — never broadcast it; the doc-keyed equi-join
    // shuffles and stays skew-safe at corpus scale
    val scored = ts.tf
      .join(ts.dl, "doc_id")
      .join(ts.dfreqSide, "term")
      .crossJoin(broadcast(ts.stats))
      .withColumn("score", bm25Score(k1, b))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= kTop)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), round(col("score"), 6).as("score"))
  }

  /** End-to-end BM25 retrieval: score a QUERY SET against the corpus and
    * return the top-`kTop` documents per query — the search twin of
    * [[bm25TopTerms]] (same derived tf/df/length statistics). Per-term
    * contributions are rounded ONCE to integer micro-points and
    * integer-summed per (query, doc) — float group-sums are order-
    * dependent in the last ulp across engines, integer sums are not — so
    * the ranking and scores are hash-exact. The query side is
    * query-terms-sized (broadcasts); the term-keyed join against tf is
    * the inverted-index probe shape ([[invertedIndex]] partitioned by
    * term is its materialized form). Output: (query_id, rank, doc_id,
    * score_u) with rank ties broken by doc_id. */
  def bm25Search(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queries: org.apache.spark.sql.DataFrame,
      qIdCol: String,
      qTextCol: String,
      kTop: Int,
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = termStats(docs, idCol, textCol)
    val qt = queries.select(col(qIdCol).as("query_id"),
      explode(array_distinct(tokens(col(qTextCol)))).as("term"))
    val scored = qt.join(ts.tf, "term") // query side is tiny: AQE broadcasts it
      .join(ts.dl, "doc_id")
      .join(ts.dfreqSide, "term")
      .crossJoin(broadcast(ts.stats))
      .withColumn("score_u", round(bm25Score(k1, b) * lit(1e6)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score_u")).as("score_u"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_u").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= kTop)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score_u"))
  }

  /** Inverted index: term → (document frequency, ascending posting list) —
    * the structure BM25 retrieval walks. One explode + distinct + term agg
    * (map-side partial); the posting list materializes as a
    * comma-joined ascending id string (engine-portable representation:
    * array columns print differently across engines). `minDf` drops
    * hapax-style terms whose postings dominate index size at corpus scale;
    * at 100 TB the natural layout partitions/buckets this output BY TERM,
    * which a retrieval join then co-locates with query terms. */
  def invertedIndex(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minDf: Long = 1L): org.apache.spark.sql.DataFrame = {
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(array_sort(collect_list(col("doc_id"))), ",").as("postings"))
      .where(col("df") >= minDf)
  }

  /** Per-source token-distribution drift: KL(P_source ‖ P_corpus) in
    * micro-nats per token — the dataset-mixing diagnostic that tells you
    * which source's unigram distribution diverges from the blended corpus
    * (a drifting source gets down-weighted or re-cleaned). Same fixed-point
    * discipline as [[unigramNll]]: the per-TERM log-ratio is rounded once
    * to integer micro-nats, scaled by the exact integer term count, and
    * integer-summed — order-free, hash-exact cross-engine; only the final
    * per-token division leaves integer space (integer DIV, exact).
    *
    * Plan: one explode feeds a (source, term) hash agg, checkpointed once;
    * the corpus vocabulary and per-source totals DERIVE from it (map-side
    * partial re-aggs — the corpus is never re-tokenized); the vocabulary
    * join is term-keyed (skew-safe), totals broadcast as tiny tables. */
  def sourceTokenDrift(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      srcCol: String): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("t"))
    val st = tok.groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st"))
      .localCheckpoint(true)
    val corpus = st.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val n = st.agg(sum(col("c_st")).as("n_tot"))
    st.join(corpus, "t")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(n))
      .withColumn("term_micro",
        round(log((col("c_st") / col("n_s")) / (col("c_t") / col("n_tot"))) * lit(1e6))
          .cast("long"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        sum(col("c_st") * col("term_micro")).as("kl_sum"))
      .select(col("source"), col("n_tokens"),
        expr("kl_sum DIV n_tokens").as("kl_micro_per_tok"))
  }

  /** Gopher-style rule-based quality flags (Rae et al. 2021 §A1.1 — the
    * word-level subset expressible over single-space corpora): word count,
    * mean word length, and "stopword" hits, each folded into a pass/fail
    * gate. Entirely closed-form Column arithmetic — mean word length
    * derives from `length(trim(text))` (total chars = word chars + n-1
    * separators), so NO explode and no shuffle at all: one codegen'd
    * projection over the scan, the cheapest possible 100 TB shape. All
    * ratios are fixed-point (micro units, integer div) so the output is
    * hash-exact cross-engine. */
  def gopherQualityFlags(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      stopwords: Seq[String] = Seq("value", "table"),
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanWlenU: Long = 3000000L,
      maxMeanWlenU: Long = 10000000L,
      minStopHits: Long = 2L): org.apache.spark.sql.DataFrame = {
    val w = tokens(col(textCol))
    // stop hits via array_remove (codegen) — no HOF lambda, no explode
    val kept = stopwords.foldLeft(w) { (arr, s) => array_remove(arr, s) }
    // total word chars = length(trim) - (n_words - 1) single-space seps;
    // the integer DIV runs over internal aliases (never raw-interpolated
    // user column names into SQL text), and both counts derive from the
    // ONE tokens() definition so they cannot drift apart
    docs.select(
        col(idCol).as("doc_id"),
        size(w).cast("long").as("n_words"),
        (length(trim(col(textCol))).cast("long") - (size(w) - 1)).as("__tc"),
        (size(w) - size(kept)).cast("long").as("stop_hits"))
      .withColumn("mean_wlen_u", expr("__tc * 1000000L DIV n_words"))
      .select(col("doc_id"), col("n_words"), col("mean_wlen_u"), col("stop_hits"))
      .withColumn("pass",
        when(col("n_words").between(minWords, maxWords) &&
             col("mean_wlen_u").between(minMeanWlenU, maxMeanWlenU) &&
             col("stop_hits") >= minStopHits, 1L).otherwise(0L))
  }

  /** PII scrubbing: replace emails / IPv4s / international phone numbers
    * with typed mask tokens and count each kind. The patterns are
    * backreference-free so the same regex text runs identically on Java
    * regex and RE2-family engines (oracle parity, and the plan stays one
    * codegen'd projection — regexp_replace/regexp_count are native
    * expressions, no UDF). Output md5 of the scrubbed text keeps verified
    * values compact. */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhone = "\\+\\d{7,15}"

  def scrubPii(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(t, lit(piiEmail), lit("<EMAIL>")),
        lit(piiIpv4), lit("<IP>")),
      lit(piiPhone), lit("<PHONE>"))
    docs.select(
      col(idCol).as("doc_id"),
      regexp_count(t, lit(piiEmail)).cast("long").as("n_email"),
      regexp_count(t, lit(piiIpv4)).cast("long").as("n_ip"),
      regexp_count(t, lit(piiPhone)).cast("long").as("n_phone"),
      md5(red).as("red_md5"))
  }

  /** Pairwise source vocabulary overlap: the Jaccard similarity of the
    * DISTINCT token sets of every source pair — the corpus-comparison
    * panel ("are these two crawls the same text?") at vocabulary cost,
    * never document cost. Output per (src1 < src2) pair with a shared
    * token: intersection size, both vocabulary sizes, integer-ppm
    * Jaccard.
    *
    * The corpus collapses to distinct (source, token) ONCE (checkpointed
    * — sizes and the pair join both read it); the intersection is a
    * token-keyed equi-self-join whose per-token fan-out is bounded by
    * #sources² (sources are a handful, tokens are the parallelism);
    * per-source sizes join back broadcast (source-cardinality rows). */
  /** DISTINCTIVE TERMS per group — the "Fightin' Words" log-odds-ratio
    * with an informative Dirichlet prior (Monroe, Colaresi & Quinn 2008):
    * for group g and term w, δ = ln(odds of w in g, α-smoothed) − ln(odds
    * of w in the REST of the corpus), with α_w proportional to the term's
    * corpus frequency (α₀ spread over the corpus distribution) — the
    * corpus-contrast panel "what vocabulary is characteristically source
    * X" that raw tf-idf over-weights rare noise for.
    *
    * δ is computed in double and rounded ONCE to micro-nats (the q119/q163
    * ln convention — both engines evaluate the identical IEEE expression
    * tree). Plan: one tokenize+agg (the only data-sized shuffle), then the
    * vocabulary-sized (g,t) table joins the size-gated term table and the
    * 1-row totals; top-k per group through a group-partitioned window over
    * the vocabulary, never over rows. Output: (g, rank, term, delta_u). */
  def distinctiveTerms(
      docs: org.apache.spark.sql.DataFrame,
      groupCol: String,
      textCol: String,
      alpha0: Double = 1000.0,
      topK: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Par.widen(docs.select(col(groupCol), col(textCol)))
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("t"))
    val sw = tok.groupBy(col("g"), col("t")).agg(count(lit(1)).as("ysw"))
      .localCheckpoint(true) // term totals, group totals and the scored join all read it
    val w = gatedBroadcast(sw.groupBy(col("t")).agg(sum(col("ysw")).as("yw"))
      .localCheckpoint(true))
    val ns = sw.groupBy(col("g")).agg(sum(col("ysw")).as("nsv"))
    val tot = sw.agg(sum(col("ysw")).as("n"))
    // operand ORDER mirrors the SQL oracle exactly — double arithmetic is
    // deterministic only for an identical expression tree
    val aw = lit(alpha0) * col("yw") / col("n")
    val delta =
      log((col("ysw") + aw) / (col("nsv") + lit(alpha0) - col("ysw") - aw)) -
      log(((col("yw") - col("ysw")) + aw) /
        ((col("n") - col("nsv")) + lit(alpha0) - (col("yw") - col("ysw")) - aw))
    val scored = sw
      .join(w, Seq("t"))
      .join(ns, Seq("g"))
      .crossJoin(broadcast(tot))
      .withColumn("delta_u", round(delta * lit(1e6)).cast("long"))
    val win = Window.partitionBy(col("g"))
      .orderBy(col("delta_u").desc, col("t").asc)
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= topK)
      .select(col("g"), col("rank"), col("t").as("term"), col("delta_u"))
  }

  def vocabOverlap(
      docs: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val vocab = docs
      .select(col(sourceCol).as("__s"), explode(tokens(col(textCol))).as("__t"))
      .where(col("__t") =!= "")
      .distinct()
      .localCheckpoint(true)
    val sizes = vocab.groupBy(col("__s")).agg(count(lit(1)).as("sz"))
    val inter = vocab
      .join(vocab.select(col("__s").as("__s2"), col("__t")), Seq("__t"))
      .where(col("__s") < col("__s2"))
      .groupBy(col("__s"), col("__s2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("__s"), col("sz").as("sz1"))), Seq("__s"))
      .join(broadcast(sizes.select(col("__s").as("__s2"), col("sz").as("sz2"))),
        Seq("__s2"))
      .select(col("__s").as("src1"), col("__s2").as("src2"), col("inter"),
        col("sz1"), col("sz2"),
        expr("inter * 1000000L DIV (sz1 + sz2 - inter)").as("jaccard_ppm"))
  }

  /** Pairwise KL DIVERGENCE between per-source unigram language models —
    * the distribution-drift panel behind "did src A's vocabulary shift
    * away from src B's": KL(p_a ‖ p_b) over the CORPUS vocabulary with
    * add-one smoothing, p_s(t) = (c_s(t)+1)/(n_s+V).
    *
    * Portability discipline (the [[unigramNll]] convention): each term
    * p_a·ln(p_a/p_b) is a deterministic double from exact integers,
    * rounded ONCE to nano units; the per-pair sum is then an order-free
    * integer. Tokens absent from BOTH sources all contribute the SAME
    * smoothed constant, so their total is a closed form
    * (V − |vocab_a ∪ vocab_b|) · term₀ — the pair×token join only ever
    * materializes tokens present in at least one side.
    *
    * Scale shape: the corpus collapses once to (source, token, count)
    * (checkpointed); the pair expansion is two joins keyed on the pair's
    * sources + one full-outer align on (pair, token) — fan-out ≤
    * sources² × vocab, sources being a handful. Output:
    * (src_p, src_q, kl_nano) for every ordered pair, sorted. */
  def klDrift(
      docs: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = docs
      .select(col(sourceCol).as("__s"), explode(tokens(col(textCol))).as("__t"))
      .where(col("__t") =!= "")
      .groupBy(col("__s"), col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val sizes = counts.groupBy(col("__s")).agg(sum(col("__c")).as("__n"))
    val vRow = counts.agg(count_distinct(col("__t")).as("__V"))
    // ordered source pairs, with both totals and V riding along (tiny)
    val pairs = sizes.select(col("__s").as("p"), col("__n").as("np"))
      .crossJoin(sizes.select(col("__s").as("q"), col("__n").as("nq")))
      .where(col("p") =!= col("q"))
      .crossJoin(broadcast(vRow))
      .localCheckpoint(true)
    val ta = pairs.join(counts.select(col("__s").as("p"), col("__t"), col("__c").as("ca")),
      Seq("p"))
      .select(col("p"), col("q"), col("__t"), col("ca"))
    val tb = pairs.join(counts.select(col("__s").as("q"), col("__t"), col("__c").as("cb")),
      Seq("q"))
      .select(col("p"), col("q"), col("__t"), col("cb"))
    val u = ta.join(tb, Seq("p", "q", "__t"), "full_outer")
      .select(col("p"), col("q"),
        coalesce(col("ca"), lit(0L)).as("ca"), coalesce(col("cb"), lit(0L)).as("cb"))
    // per-term nano contribution; one rounded double per (pair, token)
    val perPair = u.join(broadcast(pairs), Seq("p", "q"))
      .withColumn("__term", round(
        ((col("ca") + 1).cast("double") / (col("np") + col("__V"))) *
          log(((col("ca") + 1).cast("double") / (col("np") + col("__V"))) /
              ((col("cb") + 1).cast("double") / (col("nq") + col("__V")))) *
          lit(1e9)).cast("long"))
      .groupBy(col("p"), col("q"))
      .agg(sum(col("__term")).as("__sum"), count(lit(1)).as("__npresent"))
    perPair.join(broadcast(pairs), Seq("p", "q"))
      .withColumn("__term0", round(
        (lit(1.0) / (col("np") + col("__V"))) *
          log((lit(1.0) / (col("np") + col("__V"))) /
              (lit(1.0) / (col("nq") + col("__V")))) * lit(1e9)).cast("long"))
      .select(col("p").as("src_p"), col("q").as("src_q"),
        (col("__sum") + (col("__V") - col("__npresent")) * col("__term0"))
          .as("kl_nano"))
      .orderBy(col("src_p"), col("src_q"))
  }

  /** Shannon ENTROPY of each source's unigram token distribution (no
    * smoothing — only observed tokens contribute), nano-fixed-point: one
    * rounded double per (source, token), order-free integer sum (the
    * [[unigramNll]] discipline). High entropy = diverse vocabulary; a
    * collapsing H is the canary for template/boilerplate flooding.
    * Output: (source, n_tok, vocab, h_nano) sorted by source. */
  def tokenEntropy(
      docs: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = docs
      .select(col(sourceCol).as("__s"), explode(tokens(col(textCol))).as("__t"))
      .where(col("__t") =!= "")
      .groupBy(col("__s"), col("__t")).agg(count(lit(1)).as("__c"))
    val sized = counts.join(
      counts.groupBy(col("__s")).agg(sum(col("__c")).as("__n")), Seq("__s"))
    sized
      .withColumn("__term", round(
        (col("__c").cast("double") / col("__n")) *
          log(col("__c").cast("double") / col("__n")) * lit(-1e9)).cast("long"))
      .groupBy(col("__s"))
      .agg(max(col("__n")).as("n_tok"), count(lit(1)).as("vocab"),
        sum(col("__term")).as("h_nano"))
      .select(col("__s").as("source"), col("n_tok"), col("vocab"), col("h_nano"))
      .orderBy(col("source"))
  }

  /** DISTINCT-n diversity panel per source (Li et al., "A Diversity-
    * Promoting Objective Function for Neural Conversation Models", NAACL
    * 2016): distinct-1 = |unique unigrams| / tokens, distinct-2 over
    * bigrams — the standard template/boilerplate smell (a source of
    * near-identical generations scores low distinct-2 even when exact
    * dedup passes). Bigrams stay WITHIN a document (no cross-doc seams).
    * Two map-side-partial count-distinct aggregates over the exploded
    * n-gram streams; ratios as exact-integer ppm (`·10⁶ DIV total`), so
    * the panel is hash-stable cross-engine. Output per source:
    * (source, n1_total, n1_distinct, distinct1_ppm, n2_total,
    * n2_distinct, distinct2_ppm). */
  /** VOCABULARY GROWTH (Heaps-law panel) per source: distinct-term count
    * after the first 25/50/75/100 % of the source's docs in id order —
    * saturated growth means more data from this source adds volume, not
    * diversity (the acquisition-priority signal). Each term contributes
    * its FIRST-occurrence doc only (one (source, term) min-agg), quartile
    * boundaries are exact-integer `(n·q + 3) DIV 4`, membership is a
    * broadcast 4-row quartile join — no per-quartile rescan. Windows are
    * source-partitioned (parallel across sources). Output:
    * (source, quartile, docs_seen, vocab). */
  def vocabGrowth(
      docs: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = docs
      .select(col(sourceCol).as("__s"), col(idCol).as("__id"))
      .withColumn("__rk", row_number()
        .over(Window.partitionBy(col("__s")).orderBy(col("__id"))).cast("long"))
    val nd = ranked.groupBy(col("__s")).agg(max(col("__rk")).as("__nd"))
    val firstOcc = Par.widen(docs.select(col(sourceCol).as("__s"),
        col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__s"), col("__id"), explode(tokens(col("__t"))).as("__g"))
      .where(col("__g") =!= "")
      .groupBy(col("__s"), col("__g")).agg(min(col("__id")).as("__fid"))
    val withRk = firstOcc
      .join(ranked.select(col("__s"), col("__id").as("__fid"), col("__rk")),
        Seq("__s", "__fid"))
    val quartiles = docs.sparkSession.range(1, 5).select(col("id").as("__q"))
    val thr = nd.crossJoin(broadcast(quartiles))
      .withColumn("__k", expr("(__nd * __q + 3) DIV 4"))
    withRk.join(broadcast(thr), Seq("__s"))
      .where(col("__rk") <= col("__k"))
      .groupBy(col("__s"), col("__q"), col("__k"))
      .agg(count(lit(1)).as("vocab"))
      .select(col("__s").as("source"), col("__q").as("quartile"),
        col("__k").as("docs_seen"), col("vocab"))
  }

  def distinctNgramDiversity(
      docs: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val base = graft.functions.Par.widen(
      docs.select(col(sourceCol).as("__s"), col(textCol).as("__t")))
    val uni = base
      .select(col("__s"), explode(tokens(col("__t"))).as("__g"))
      .where(col("__g") =!= "")
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("n1_total"), countDistinct(col("__g")).as("n1_distinct"))
    val bi = base
      .select(col("__s"), explode(shingles(col("__t"), 2)).as("__g"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("n2_total"), countDistinct(col("__g")).as("n2_distinct"))
    uni.join(bi, Seq("__s"), "left_outer")
      .select(col("__s").as("source"),
        col("n1_total"), col("n1_distinct"),
        expr("n1_distinct * 1000000 DIV n1_total").as("distinct1_ppm"),
        coalesce(col("n2_total"), lit(0L)).as("n2_total"),
        coalesce(col("n2_distinct"), lit(0L)).as("n2_distinct"),
        coalesce(expr("n2_distinct * 1000000 DIV n2_total"), lit(-1L))
          .as("distinct2_ppm"))
      .orderBy(col("source"))
  }

  /** ZIPF SLOPE per source — the rank-frequency log-log OLS slope over the
    * top-`topK` terms (slope ≈ −1 for natural text; a flat slope is the
    * template/boilerplate smell, a steep one a collapsed vocabulary). The
    * corpus-health panel next to Heaps' law (vocab growth) on any data card.
    *
    * Portability discipline: ln(rank) and ln(freq) are rounded ONCE to
    * integer micro-units per term, so the OLS sums are order-free integer
    * arithmetic; the final slope is one exact-integer ratio divided in
    * doubles and rounded to micro-units — engine-exact. */
  def zipfSlope(
      docs: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      textCol: String,
      topK: Int = 100): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Par.widen(docs.select(col(sourceCol).as("g"), col(textCol).as("__t")))
      .select(col("g"), explode(tokens(col("__t"))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("g"), col("t")).agg(count(lit(1)).as("cf"))
    val win = Window.partitionBy(col("g")).orderBy(col("cf").desc, col("t").asc)
    val ranked = tf
      .withColumn("r", row_number().over(win).cast("long"))
      .where(col("r") <= topK)
      .withColumn("x", round(log(col("r").cast("double")) * lit(1e6)).cast("long"))
      .withColumn("y", round(log(col("cf").cast("double")) * lit(1e6)).cast("long"))
    ranked.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("g").as("source"), col("n").as("n_terms"),
        round((((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")) /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))) * lit(1e6))
          .cast("long").as("slope_u"))
      .orderBy(col("source"))
  }

  /** TERM BURSTINESS per source (Church & Gale): for the top-`topK` terms
    * by collection frequency, mean occurrences per CONTAINING document
    * cf/df — function words sit near their corpus rate (low burst), topical
    * and boilerplate terms bunch (high burst). Exact-integer ppm. */
  def burstiness(
      docs: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      idCol: String,
      textCol: String,
      topK: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = Par.widen(docs.select(col(sourceCol).as("g"), col(idCol).as("__id"),
        col(textCol).as("__t")))
      .select(col("g"), col("__id"), explode(tokens(col("__t"))).as("t"))
      .where(col("t") =!= "")
    val stats = occ.groupBy(col("g"), col("t"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("__id")).as("df"))
    val win = Window.partitionBy(col("g")).orderBy(col("cf").desc, col("t").asc)
    stats.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= topK)
      .select(col("g").as("source"), col("rank"), col("t").as("term"),
        col("cf"), col("df"),
        expr("cf * 1000000 DIV df").as("burst_ppm"))
  }

  /** SOURCE-SIMILARITY matrix over unigram COUNT vectors — cosine between
    * each pair of sources' term-frequency vectors: the weighted companion
    * of [[vocabOverlap]]'s set Jaccard (a source that reuses another's
    * vocabulary at very different rates scores high on overlap but low
    * here). Dot product and norms are exact integer sums; the one cosine
    * division happens in doubles (sqrt is IEEE-correctly-rounded on every
    * engine) and is rounded to micro-units. */
  def sourceCosine(
      docs: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = Par.widen(docs.select(col(sourceCol).as("__s"), col(textCol).as("__t")))
      .select(col("__s"), explode(tokens(col("__t"))).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("__s"), col("t")).agg(count(lit(1)).as("cf"))
      .localCheckpoint(true) // feeds norms AND both sides of the pair join
    val norms = tf.groupBy(col("__s")).agg(sum(col("cf") * col("cf")).as("nrm2"))
    val dots = tf
      .join(tf.select(col("__s").as("__s2"), col("t"), col("cf").as("cf2")), Seq("t"))
      .where(col("__s") < col("__s2"))
      .groupBy(col("__s"), col("__s2"))
      .agg(sum(col("cf") * col("cf2")).as("dot"))
    dots
      .join(broadcast(norms.select(col("__s"), col("nrm2").as("n1"))), Seq("__s"))
      .join(broadcast(norms.select(col("__s").as("__s2"), col("nrm2").as("n2"))),
        Seq("__s2"))
      .select(col("__s").as("src1"), col("__s2").as("src2"), col("dot"),
        round((col("dot").cast("double") /
          (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double")))) * lit(1e6))
          .cast("long").as("cosine_u"))
      .orderBy(col("src1"), col("src2"))
  }

  /** TOKENIZER FERTILITY per group — subword pieces per whitespace word and
    * chars per piece, the tokenizer-efficiency panel of a training-data
    * card (high fertility = the tokenizer fragments that language/source
    * into many pieces, inflating sequence length and training cost). Uses
    * the same BPE-ish regex piece count as the token surface (§2.10) and
    * the replace-identity word count, so every figure is an exact integer;
    * both ratios are fixed-point micro-units via integer DIV — hash-exact
    * cross-engine. One codegen'd projection feeding one hash agg: no
    * explode, no window, map-side partial — the cheapest 100 TB shape. */
  def tokenizerFertility(
      docs: org.apache.spark.sql.DataFrame,
      groupCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    docs.select(
        col(groupCol).as("__g"),
        tokenCount(col(textCol)).cast("long").as("__nw"),
        bpeTokenCount(col(textCol)).cast("long").as("__np"),
        length(trim(col(textCol))).cast("long").as("__nc"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nw")).as("total_words"),
        sum(col("__np")).as("total_pieces"), sum(col("__nc")).as("total_chars"))
      // explicit zero-denominator contract: a group of all-empty docs gets
      // NULL ratios on BOTH engines (Spark's DIV-by-zero null would meet a
      // DuckDB //-by-zero ERROR without the guard — the oracle uses NULLIF)
      .withColumn("fertility_u",
        expr("CASE WHEN total_words > 0 THEN total_pieces * 1000000L DIV total_words END"))
      .withColumn("chars_per_piece_u",
        expr("CASE WHEN total_pieces > 0 THEN total_chars * 1000000L DIV total_pieces END"))
      .select(col("__g").as(groupCol), col("n_docs"), col("total_words"),
        col("total_pieces"), col("total_chars"), col("fertility_u"),
        col("chars_per_piece_u"))
  }

  /** POPULATION STABILITY INDEX of each group's value distribution against
    * the blended corpus, over fixed-width integer buckets — the standard
    * mixing/drift gate (PSI < 0.1 stable, > 0.25 shifted) applied to e.g.
    * document length by source. Buckets are value DIV `bucketWidth`, so
    * binning is exact integer arithmetic and needs no quantile pass.
    *
    * Same fixed-point discipline as [[sourceTokenDrift]]: the per-bucket
    * term (p−q)·ln(p/q) — p = bucket share in the group, q = in the corpus
    * — is rounded ONCE to integer micro-nats and integer-summed
    * (order-free, hash-exact; the term is ≥ 0 since p−q and ln(p/q) share
    * sign). Buckets the group never hits contribute via the complementary
    * buckets' mass (the inner join keeps group-present buckets, where
    * q > 0 always holds because group ⊆ corpus).
    *
    * Plan: ONE (group, bucket) hash agg (micro-cardinality: groups ×
    * buckets), from which corpus totals DERIVE — the data is scanned once;
    * all joins are against broadcast-sized derivations. */
  def psiByBucket(
      docs: org.apache.spark.sql.DataFrame,
      groupCol: String,
      valueCol: String,
      bucketWidth: Long): org.apache.spark.sql.DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    // FLOOR division, not Spark's truncate-toward-zero DIV: the oracle
    // contract is DuckDB's `//` (floor), and the two differ on negative
    // values (−1 DIV 64 = 0 vs −1 // 64 = −1) — n_chars in the certified
    // query is non-negative, but the public API accepts any long
    val gb = docs
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"))
      .withColumn("__b", expr(
        s"CASE WHEN __v >= 0 OR __v % ${bucketWidth}L = 0 THEN __v DIV ${bucketWidth}L " +
        s"ELSE __v DIV ${bucketWidth}L - 1 END"))
      .groupBy(col("__g"), col("__b")).agg(count(lit(1)).as("c_gb"))
      .localCheckpoint(true) // feeds group totals, corpus buckets AND the join
    val ng = gb.groupBy(col("__g")).agg(sum(col("c_gb")).as("n_g"))
    val cb = gb.groupBy(col("__b")).agg(sum(col("c_gb")).as("c_b"))
    val n = gb.agg(sum(col("c_gb")).as("n_tot"))
    gb.join(broadcast(cb), "__b")
      .join(broadcast(ng), "__g")
      .crossJoin(broadcast(n))
      .withColumn("term_u",
        round((col("c_gb") / col("n_g") - col("c_b") / col("n_tot")) *
          log((col("c_gb") / col("n_g")) / (col("c_b") / col("n_tot"))) * lit(1e6))
          .cast("long"))
      .groupBy(col("__g"))
      .agg(max(col("n_g")).as("n_docs"), sum(col("term_u")).as("psi_u"))
      .select(col("__g").as(groupCol), col("n_docs"), col("psi_u"))
  }

  /** BIGRAM CONDITIONAL NLL — the order-sensitive upgrade of
    * [[unigramNll]]: score each document by the average
    * −ln p(w₂ | w₁) over its bigrams, with the corpus itself as the LM
    * (p(w₂|w₁) = c(w₁w₂) / c(w₁·), c(w₁·) = Σ_w c(w₁ w) — a proper
    * conditional, so scrambled-word boilerplate that fools the unigram
    * score stands out here). Fixed-point micro-nat accumulation keeps the
    * per-doc average hash-exact cross-engine. Docs with < 2 tokens have no
    * bigrams and are absent from the output (they carry no LM evidence).
    *
    * Plan: one shingle explode feeds the bigram vocabulary agg; the
    * first-word totals DERIVE from that vocabulary (never a second corpus
    * pass); the per-occurrence join is bigram-keyed, then the w₁ totals
    * join against the much smaller vocabulary-sized table. */
  def bigramNll(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val bg = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), explode(shingles(col(textCol), 2)).as("g"))
    val c2 = bg.groupBy(col("g")).agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .localCheckpoint(true) // feeds the w1 totals AND the occurrence join
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    bg.join(c2, "g")
      .join(c1, "w1")
      .withColumn("nll_micro",
        round(-log(col("c2") / col("c1")) * lit(1e6)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_micro")).as("nll_total"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll_total") / lit(1e6) / col("n_bigrams"), 4).as("avg_nll"))
  }
}
