package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.{Par, Text, Vectors}
import graft.sources.{IndexMeta, IndexStore}

/** Document deduplication at corpus scale — exact, MinHash-LSH, SimHash and
  * n-gram-Jaccard variants. All plans are shuffle-frugal:
  *
  *  - exact: one hash-groupBy on a 128-bit fingerprint (map-side partial agg)
  *  - MinHash-LSH: signature + banding are pure projections; the only
  *    shuffle is the self-join on (band, bandHash) buckets, whose size is
  *    controlled by the banding parameters — candidate pairs are then
  *    verified with exact Jaccard. This is the standard near-dup pipeline
  *    for LLM training corpora (shingle → minhash → band → bucket-join).
  *  - SimHash: projection to a 64-bit fingerprint; near-dup candidates via
  *    exact-match on rotated fingerprint blocks (1 shuffle), verified by
  *    Hamming distance.
  */
object Dedup {

  /** Candidate pairs from a band-bucket SELF-join — the shared kernel of
    * [[minhashLshPortable]], [[containmentNearDup]], [[containmentDedup]]
    * and [[minhashCalibration]]. Input: the [[shingleBandBase]] frame (one
    * row per doc carrying its `bks` band-key array, materialized) plus the
    * bucket-occupancy bound computed during its materialization. A bucket
    * of n ids emits n·(n−1)/2 candidates, so one pathological bucket
    * (boilerplate-dominated shingle sets hashing to a shared band key)
    * costs Σn² — the quadratic hazard the q285 bucket census exists to
    * detect. Buckets larger than `spark.graft.lsh.maxBucket` (default
    * 10000, ≤0 disables) are DROPPED from candidate generation: a doc in an
    * oversize bucket still pairs through its other `bands−1` keys, and at
    * that bucket size the members are near-certain duplicates of each other
    * that exact/containment passes catch anyway — the standard recall trade
    * (cf. the `maxDf` cap in [[containmentPairs]]'s inverted index).
    *
    * TWO result-identical plans, picked by the ZERO-COST precheck:
    *
    *  1. UNCAPPED SELF-JOIN (the common case): the plain (band, bk)
    *     equi-self-join over the exploded band keys — at small scale
    *     Catalyst broadcasts one side (the explode re-runs over
    *     materialized arrays, a cheap row expansion, not the md5 kernel),
    *     at large scale it is one co-partitioned shuffle join.
    *  2. CAPPED ANTI-JOIN: `groupBy(band, bk).count` (map-side partial
    *     agg, ONE long of state per key — bounded even on a 10M-row hot
    *     bucket) → the oversize keys (near-empty by definition) →
    *     broadcast LEFT ANTI against the bucket rows → the same
    *     self-join. Identical semantics to dropping oversize buckets.
    *
    * `bound ≤ cap` PROVES no bucket can trigger the cap — any global
    * bucket count is a sum of per-partition counts, each ≤ its
    * partition's max, so global max ≤ Σ partition maxima (= `bound`,
    * from [[shingleBandBase]]'s materialization pass, zero extra jobs) —
    * and a trigger-free capped plan is result-identical to the uncapped
    * one, so plan choice never changes results even though the bound
    * itself is partitioning-dependent. This replaces the r11
    * `count(1) over (partition by band, bk)` window, which paid a full
    * sort of every bucket row on BOTH join sides to exclude almost none
    * of them (judge A/B: ~1.5× on every banded-LSH query — q42
    * 908→1325 ms, q113 757→1214 ms — for identical results).
    *
    * Capped runs are distinguishable from uncapped ones: each dropped
    * oversize bucket bumps the `graft.lsh.cappedBuckets` accumulator
    * (read via [[cappedBucketCount]]) and logs from the executor —
    * recall loss is never silent. The bump rides the near-empty oversize
    * side, so the hot path pays nothing. `cap` overrides the session
    * conf when given (Some(n); n ≤ 0 disables) so callers can pin the
    * cap per-query without mutating shared-session conf. */
  private[graft] def bandSelfCandidates(
      sigBase: DataFrame, bound: Long, cap: Option[Int] = None): DataFrame = {
    val spark = sigBase.sparkSession
    val capN = cap.getOrElse(
      spark.conf.get("spark.graft.lsh.maxBucket", "10000").toInt)
    val bk = sigBase
      .select(col("id"), posexplode(col("bks")))
      .select(col("id"), col("pos").as("band"), col("col").as("bk"))
    def selfJoin(p: DataFrame): DataFrame = p
      .join(p.withColumnRenamed("id", "id2"), Seq("band", "bk"))
      .where(col("id") < col("id2"))
      .select(col("id").as("id_a"), col("id2").as("id_b"))
      .distinct()
    if (capN <= 0 || bound <= capN) selfJoin(bk)
    else {
      val acc = cappedBucketAcc(spark)
      // evaluated once per OVERSIZE key (near-empty side); nondeterministic
      // so Catalyst never reorders, deduplicates or prunes the bump
      val mark = udf { (n: Long) =>
        acc.add(1L)
        System.err.println(s"[graft] LSH cap: dropping oversize bucket ($n rows > cap $capN)")
        true
      }.asNondeterministic()
      val oversize = bk.groupBy(col("band"), col("bk"))
        .agg(count(lit(1)).as("__n"))
        .where(col("__n") > capN && mark(col("__n")))
        .select(col("band"), col("bk"))
      selfJoin(bk.join(broadcast(oversize), Seq("band", "bk"), "left_anti"))
    }
  }

  // one accumulator per SparkContext (sessions sharing a context share the
  // count — the diagnostic is per-process, like the executor logs it mirrors)
  private val capAccs =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.util.LongAccumulator]()
  private def cappedBucketAcc(
      spark: org.apache.spark.sql.SparkSession): org.apache.spark.util.LongAccumulator =
    capAccs.computeIfAbsent(spark.sparkContext.applicationId,
      _ => spark.sparkContext.longAccumulator("graft.lsh.cappedBuckets"))

  /** Diagnostic counter for the LSH hot-bucket cap: total oversize (band,
    * bucket) buckets dropped by [[bandSelfCandidates]] since this
    * application started (0 when no capped run ever triggered). Spark
    * stage retries can over-count; treat as a nonzero/zero signal plus
    * magnitude, not an exact census — the exact census is the q285
    * bucket-size panel. */
  def cappedBucketCount(spark: org.apache.spark.sql.SparkSession): Long =
    cappedBucketAcc(spark).value

  /** Exact dedup: group by normalized-text fingerprint; keep the smallest id
    * as the canonical representative. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(Text.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** DELTA exact dedup — the production ingest shape: dedup an incoming
    * batch against an already-deduped corpus without ever re-reading the
    * corpus text (only its fingerprint column moves). Two steps, both
    * fingerprint-keyed: (1) within-batch exact dedup (keep the smallest
    * id per fingerprint); (2) LEFT ANTI join against the corpus
    * fingerprints — the Spark-native "NOT IN" that at scale is one
    * shuffle (or broadcast, when the BATCH side's fingerprints fit — the
    * common case: Catalyst/AQE picks, both sides are key-only). Returns
    * the incoming rows that survive: (keep_id, fp). */
  def exactDelta(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val corpusFp = corpus.select(Text.fingerprint(col(textCol)).as("fp"))
    incoming.groupBy(Text.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"))
      .join(corpusFp, Seq("fp"), "left_anti")
      .select(col("keep_id"), col("fp"))
  }

  /** PARAGRAPH-level exact dedup with document reconstruction — the
    * MassiveText/C4 recipe: duplicated passages (boilerplate headers,
    * license blocks, navigation chrome) are removed from every document
    * except the FIRST one that contains them, then each document is
    * reassembled from its surviving paragraphs in order. Whole-doc dedup
    * ([[exact]]) misses these; the span census ([[exactSubstringSpans]])
    * only measures them — this op rewrites the corpus.
    *
    * `paras` yields a document's paragraph array; real corpora pass
    * `split(col(textCol), "\n\n")` — the synthetic tables have no newlines,
    * so callers chunk on fixed word windows instead. "First occurrence" is
    * the globally smallest (doc_id, pos) per normalized paragraph hash —
    * deterministic and engine-portable.
    *
    * Distributed shape: posexplode (narrow fan-out) → ONE hash-shuffle on
    * the paragraph md5 (keep-first via min(struct)) — a hot paragraph
    * (shared boilerplate) costs one partial-aggregated key, never a window
    * partition — → hash-join back on the md5 → per-doc reassembly agg
    * (key-parallel across documents). Nothing global, nothing driver-side.
    * Output: (doc_id, clean_text, n_paras, n_kept) — clean_text "" when
    * every paragraph of the doc appeared earlier in the corpus. */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String,
      paras: org.apache.spark.sql.Column): DataFrame = {
    val exploded = docs.select(col(idCol).as("doc_id"), posexplode(paras))
      .select(col("doc_id"), col("pos"), col("col").as("para"),
        md5(col("para")).as("h"))
    val first = exploded.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("__first"))
    exploded.join(first, "h")
      .withColumn("__keep",
        (col("doc_id") === col("__first.doc_id") && col("pos") === col("__first.pos"))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__keep") === 1,
            struct(col("pos"), col("para"))))),
          x => x.getField("para")), " ").as("clean_text"),
        count(lit(1)).as("n_paras"),
        sum(col("__keep")).as("n_kept"))
  }

  /** CCNet/RefinedWeb-style BOILERPLATE line removal with document
    * reconstruction: lines whose corpus-wide document frequency exceeds
    * `maxDf` (navigation chrome, cookie banners, license footers — text
    * that repeats across MANY documents) are dropped from EVERY document,
    * and survivors reassemble in original position order. The
    * frequency-threshold complement of [[paragraphDedup]] (keep-first):
    * keep-first retains one copy of repeated content; boilerplate removal
    * deletes ALL copies once the repetition count marks it as chrome.
    *
    * Plan: posexplode → ONE (line-hash)-keyed distinct-doc count (the
    * line-vocabulary domain) → hash-keyed equi-join back (AQE sizes the
    * join; the heavy-line table is vocabulary-sized, usually broadcast) →
    * per-doc reassembly agg. The explode is recomputed on the reassembly
    * side rather than checkpointed — it is a narrow map off the scan,
    * cheaper than materializing a corpus-sized intermediate.
    * Output: (doc_id, clean_text, n_lines, n_kept). */
  def boilerplateLines(
      docs: DataFrame,
      idCol: String,
      lines: org.apache.spark.sql.Column,
      maxDf: Long): DataFrame = {
    val exploded = docs.select(col(idCol).as("doc_id"), posexplode(lines))
      .select(col("doc_id"), col("pos"), col("col").as("line"),
        md5(col("col")).as("h"))
    val dfreq = exploded.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("__df"))
    exploded.join(dfreq, "h")
      .withColumn("__keep", (col("__df") <= maxDf).cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__keep") === 1,
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), " ").as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(col("__keep")).as("n_kept"))
  }

  /** FELLEGI–SUNTER record-linkage scoring (the 1969 probabilistic
    * matching framework behind every merge/purge engine): candidate pairs
    * from equality BLOCKING, per-field agreement/disagreement
    * log-likelihood weights (micro-fixed-point literals — ln(m/u) and
    * ln((1−m)/(1−u)) under fixed prior m/u rates, so the score is an
    * exact integer), summed into a pair score. Output is the score
    * HISTOGRAM (score_micro, n_pairs) — the distribution a linkage review
    * thresholds on; compact and fully deterministic.
    *
    * Field equality is null-safe (`<=>`): a null field disagrees with a
    * value and agrees with another null — document fields accordingly.
    * Scale shape: one self-equi-join on the block key (candidates bounded
    * by Σ blockSize², the classic blocking contract — pick keys that cap
    * block size), then a map-side-combinable count agg on the integer
    * score. */
  def linkageScoreHistogram(
      df: DataFrame,
      idCol: String,
      blockKeys: Seq[org.apache.spark.sql.Column],
      fields: Seq[(org.apache.spark.sql.Column, Long, Long)]): DataFrame = {
    val base = df.select(
      (col(idCol).as("__id") +:
        blockKeys.zipWithIndex.map { case (c, i) => c.as(s"__b$i") }) ++
        fields.zipWithIndex.map { case ((c, _, _), i) => c.as(s"__f$i") }: _*)
    val joinCond = blockKeys.indices
      .map(i => col(s"l.__b$i") <=> col(s"r.__b$i"))
      .reduce(_ && _) && (col("l.__id") < col("r.__id"))
    val score = fields.zipWithIndex.map { case ((_, wa, wd), i) =>
      when(col(s"l.__f$i") <=> col(s"r.__f$i"), lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    base.as("l").join(base.as("r"), joinCond)
      .select(score.as("score_micro"))
      .groupBy(col("score_micro")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("score_micro"))
  }

  /** Decontamination ATTRIBUTION across multiple eval sets: for each train
    * document, WHICH probe sets it shares at least `minHits` distinct
    * word-`n`-gram shingles with — the audit trail a curation pipeline
    * reports alongside the drop list (a doc contaminated by MMLU is a
    * different incident than one contaminated by an internal eval).
    * `probes` carries (labelCol, textCol) rows, one per probe document.
    * Plan: distinct-shingle explode on both sides → ONE shingle equi-join
    * (the [[ngramContaminationLarge]] shape — probe sets need not be
    * broadcast-sized) → (doc, label) hit agg → per-doc sorted label list.
    * Output: (doc_id, sets, n_sets), `sets` a comma-joined sorted label
    * string (engine-portable). */
  def contaminationAttribution(
      train: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      n: Int = 5,
      minHits: Long = 3L): DataFrame = {
    // Par.widen on the TRAIN side (r18): the n-gram shingle kernel over
    // the whole training corpus is the query's dominant job (profiled
    // 1.57 s of q170's 2.26 s) and a narrow single-file scan ran it on
    // 1-2 cores; the probe side is eval-benchmark-sized and stays as-is
    val tSh = Par.widen(train.select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"),
        explode(array_distinct(Text.shingles(col("__t"), n))).as("sh"))
    val pSh = probes.select(col(labelCol).as("label"),
      explode(array_distinct(Text.shingles(col(textCol), n))).as("sh"))
      .distinct()
    tSh.join(pSh, "sh")
      .groupBy(col("doc_id"), col("label")).agg(count(lit(1)).as("hits"))
      .where(col("hits") >= minHits)
      .groupBy(col("doc_id"))
      .agg(concat_ws(",", sort_array(collect_list(col("label")))).as("sets"),
        count(lit(1)).as("n_sets"))
  }

  /** Candidate near-duplicate pairs via MinHash-LSH banding, verified with
    * exact Jaccard over the shingle sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard >= threshold. */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // Par.widen: the shingle+minhash kernel is the CPU hot spot — a narrow
    // scan (one small parquet file) would otherwise run it on 1-2 cores
    val withSig = Par.widen(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), Vectors.shinglesFast(shingleN)(col("__t")).as("sh"))
      .where(size(col("sh")) > 0)
      // one compiled kernel call per row: signature + banding together
      .withColumn("bands", Vectors.minhashBandKeysFast(numHashes, bands)(col("sh")))
      // localCheckpoint (ContextCleaner-freed): this feeds the bucket
      // self-join (twice) AND both verify join-backs — without it the
      // shingling + minhash kernel re-executes once per consumer (~4×).
      // Materialization is corpus-shingle-sized on executor local storage;
      // at very large scale trade it off against recompute via
      // StorageLevel / a persisted table
      .localCheckpoint(true)
    // Candidate generation on bare (bucket, id) pairs — the shingle arrays
    // must NOT ride through the self-join + distinct (at sf0.1 that shuffled
    // ~bands× the corpus text and dominated the whole bench run). Ids-only
    // pairs shuffle ~16 bytes/row; shingles are joined back once afterwards.
    val buckets = withSig.select(explode(col("bands")).as("b"), col("id"))
    val cand = buckets.join(buckets.withColumnRenamed("id", "id2"), Seq("b"))
      .where(col("id") < col("id2"))
      .select(col("id").as("id_a"), col("id2").as("id_b"))
      .distinct()
    val sh = withSig.select(col("id"), col("sh"))
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** SQL-PORTABLE random-projection LSH embedding near-dup: candidates
    * from [[Vectors.rpLshBuckets]] band buckets (md5-derived integer
    * hyperplanes × fixed-point vectors — the sign of every projection is
    * an exact integer comparison, replayable verbatim in SQL), verified
    * with exact cosine via the codegen `dot_f32`/`norm2_f32` kernels.
    * Complements [[embeddingNearDupLsh]] (gaussian RP — float dot signs
    * are sum-order-dependent, hence rows-only-checkable). Plan shape:
    * kernel projection + ids-only bucket self-join + two id-joins for the
    * verify. Returns (id_a, id_b, cosine >= threshold). */
  def rpLshNearDupPortable(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nbits: Int = 16,
      bands: Int = 2,
      dim: Int = 64): DataFrame = {
    val base = vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val bk = base
      .select(col("id"), posexplode(Vectors.rpLshBuckets(nbits, bands, dim)(col("v"))))
      .select(col("id"), col("pos").as("band"), col("col").as("bk"))
      .localCheckpoint(true) // both sides of the self-join (see minhashLsh)
    val cand = bk.join(bk.withColumnRenamed("id", "id2"), Seq("band", "bk"))
      .where(col("id") < col("id2"))
      .select(col("id").as("id_a"), col("id2").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos",
        expr("dot_f32(va, vb) / (sqrt(norm2_f32(va)) * sqrt(norm2_f32(vb)))"))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** SQL-PORTABLE SimHash near-dup pairs: fingerprints from
    * [[Vectors.simhashMd5Hex]] (md5-derived bit votes — replayable verbatim
    * in SQL, unlike the MurmurHash3 production family of [[simhash]]), the
    * same exact-recall pigeonhole block-combination candidate generation,
    * Hamming verify on the parsed 64-bit form. Because the blocking has
    * guaranteed recall 1.0 for Hamming <= maxHamming, the output of this
    * APPROXIMATE plan equals a brute-force all-pairs scan — which is
    * exactly what the DuckDB oracle computes, so the differential test
    * certifies both the fingerprint math and the blocking's recall
    * cross-engine. Returns (id_a, id_b, hamming), id_a < id_b. */
  def simhashPortable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 8): DataFrame = {
    val fp = Par.widen(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        Vectors.parseHex64(Vectors.simhashMd5Hex(Text.tokens(col("__t")))).as("fp"))
    val keyed = fp.select(col("id"), col("fp"),
      explode(Vectors.simhashBlockKeys(maxHamming + 3, 3)(col("fp"))).as("k"))
      .localCheckpoint(true) // same recompute rationale as [[simhash]]
    val l = keyed.select(col("k"), col("id").as("id_a"), col("fp").as("fp_a"))
    val r = keyed.select(col("k"), col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(r, Seq("k")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b").distinct()
      .withColumn("hamming", Vectors.hamming64(col("fp_a"), col("fp_b")).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** MinHash-LSH with a fully SQL-PORTABLE hash family: the minhash of a
    * shingle set under seed `s` is the lexicographic MIN of
    * `md5(s || ':' || shingle)` hex strings, and a band's bucket key is
    * `md5` of its `r` minhashes joined in seed order. Every step (shingle →
    * minhash → band → bucket-join → exact-Jaccard verify) is reproducible
    * verbatim in any engine with `md5` — so the WHOLE approximate pipeline
    * is differential-testable value-by-value against a SQL oracle, not just
    * row-counted. [[minhashLsh]]'s compiled xxhash kernels remain the
    * production hot path (~3× cheaper hashing, no md5-hex materialization);
    * this variant certifies the pipeline's semantics.
    *
    * Same plan shape as [[minhashLsh]] at scale: shingle/minhash/band are
    * projections + one hash agg; the only data shuffles are the (band, key)
    * self-join on bare ids and the two id-joins that bring shingle sets back
    * for the verify. Shingles are word n-grams over a single-space split of
    * `trim(text)` (q41's token convention). Returns (id_a, id_b, jaccard)
    * with id_a < id_b and exact jaccard >= threshold. */
  def minhashLshPortable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    // distinct shingles (shinglesFast dedups): the min under every seed is
    // unchanged by duplicates, and the Jaccard verify wants the SET anyway.
    // ONE materialized pass carries shingles AND band keys (one compiled
    // kernel call per doc — a seeds×shingles explode + hash-agg shuffle,
    // the naive plan shape, cost ~8s of the sf0.1 bench on hash-row
    // materialization; a separate bucket-table checkpoint cost one whole
    // extra job of fixed scheduler latency per query), and the bucket
    // bound rides the materialization job for free.
    val (base, bound) = shingleBandBase(docs, idCol, textCol, shingleN, numHashes, bands)
    val cand = bandSelfCandidates(base, bound)
    val sets = base.select(col("id"), col("shs").as("tok"))
    cand
      .join(sets.select(col("id").as("id_a"), col("tok").as("tok_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("tok").as("tok_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("tok_a"), col("tok_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("tok_a")) + size(col("tok_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** CONTAINMENT near-dup — the ASYMMETRIC companion of
    * [[minhashLshPortable]]: containment(A in B) = |A∩B| / |A| catches the
    * sub-document duplication symmetric Jaccard misses (a short doc wholly
    * quoted inside a long one scores Jaccard ≈ |A|/|B| → tiny, but
    * containment 1.0 — the boilerplate-wrapped-copy case; cf. Broder's
    * resemblance-vs-containment distinction, "On the resemblance and
    * containment of documents", 1997). Candidates come from the SAME md5
    * band buckets (a doc contained in another shares its shingles, so the
    * min under every seed often agrees — recall is band-bounded exactly as
    * for resemblance); the verify computes both directions per candidate
    * pair and emits one row per direction that clears the threshold.
    * Output: (contained_id, container_id, containment_ppm) — ppm as
    * exact-integer `inter·10⁶ DIV |A|`, hash-stable cross-engine.
    * `maxBucket` pins the hot-bucket cap per-call (None = session conf,
    * ≤ 0 disables) — see [[bandSelfCandidates]]. */
  def containmentNearDup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      thresholdPpm: Long = 800000L,
      maxBucket: Option[Int] = None): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val (base, bound) = shingleBandBase(docs, idCol, textCol, shingleN, numHashes, bands)
    val cand = bandSelfCandidates(base, bound, maxBucket)
    val sets = base.select(col("id"), col("shs").as("tok"))
    val scored = cand
      .join(sets.select(col("id").as("id_a"), col("tok").as("tok_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("tok").as("tok_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("tok_a"), col("tok_b"))).cast("long"))
    // both directions from ONE verify join — the intersection is shared
    val aInB = scored.select(col("id_a").as("contained_id"), col("id_b").as("container_id"),
      expr("inter * 1000000 DIV size(tok_a)").as("containment_ppm"))
    val bInA = scored.select(col("id_b").as("contained_id"), col("id_a").as("container_id"),
      expr("inter * 1000000 DIV size(tok_b)").as("containment_ppm"))
    aInB.unionByName(bInA).where(col("containment_ppm") >= thresholdPpm)
  }

  /** CONTAINMENT DELTA — the ingest form of [[containmentNearDup]]: flag
    * each INCOMING doc contained (≥ threshold) in a corpus doc — "is this
    * new doc already subsumed by something we have". Each side is hashed
    * independently with the shared md5 family ([[minhashLshDelta]]'s
    * discipline), so at production scale the corpus band table comes from
    * the stored index and the batch hashes only itself. Only the
    * incoming-in-corpus direction is scored (the ingest question).
    * Output: (incoming_id, corpus_id, containment_ppm). */
  def containmentDelta(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      thresholdPpm: Long = 800000L): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val cb = shingleBase(corpus, idCol, textCol, shingleN)
    val ib = shingleBase(incoming, idCol, textCol, shingleN)
    def banded(b: DataFrame, idName: String) = b
      .select(col("id").as(idName), posexplode(Vectors.md5BandKeys(numHashes, bands)(col("shs"))))
      .select(col(idName), col("pos").as("band"), col("col").as("bk"))
    val cand = banded(ib, "incoming_id")
      .join(banded(cb, "corpus_id"), Seq("band", "bk"))
      .select(col("incoming_id"), col("corpus_id"))
      .distinct()
    cand
      .join(ib.select(col("id").as("incoming_id"), col("shs").as("tok_i")), Seq("incoming_id"))
      .join(cb.select(col("id").as("corpus_id"), col("shs").as("tok_c")), Seq("corpus_id"))
      .select(col("incoming_id"), col("corpus_id"),
        expr("size(array_intersect(tok_i, tok_c)) * 1000000L DIV size(tok_i)")
          .as("containment_ppm"))
      .where(col("containment_ppm") >= thresholdPpm)
  }

  /** MinHash ESTIMATOR CALIBRATION — the dedup-trust data-card panel: for
    * every band-candidate pair, count the signature coordinates that agree
    * (the MinHash Jaccard estimate, E[matches]/k = J) AND compute the
    * exact Jaccard, then bucket by agreement count. A healthy sketch shows
    * mean exact Jaccard ≈ matches/k per bucket; a broken hash family (or a
    * shingling drift between pipeline stages) shows up as calibration
    * skew long before recall visibly degrades. All integer-exact: mean as
    * `Σjaccard_ppm DIV n`. Output per bucket: (est_matches, n_pairs,
    * mean_jaccard_ppm, min_jaccard_ppm, max_jaccard_ppm).
    *
    * The hot-bucket cap defaults OFF here (`maxBucket = Some(0)`), unlike
    * the production dedup passes: calibration's purpose is to measure the
    * UNCAPPED sketch — a silently capped calibration would certify a
    * pipeline that production then runs with different recall. Pass None
    * to follow the session conf, or Some(n) to pin a cap. */
  def minhashCalibration(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Option[Int] = Some(0)): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    // ONE materialized pass feeds banding AND both sides of the pair join
    val (sigs, bound) =
      shingleBandBase(docs, idCol, textCol, shingleN, numHashes, bands, withSig = true)
    val cand = bandSelfCandidates(sigs, bound, maxBucket)
    val scored = cand
      .join(sigs.select(col("id").as("id_a"), col("shs").as("tok_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("shs").as("tok_b"),
        col("sig").as("sig_b")), Seq("id_b"))
      .select(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("long").as("est_matches"),
        expr("""size(array_intersect(tok_a, tok_b)) * 1000000L
               |DIV (size(tok_a) + size(tok_b) - size(array_intersect(tok_a, tok_b)))"""
          .stripMargin).as("jac_ppm"))
    scored.groupBy(col("est_matches"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jac_ppm) DIV count(1)").as("mean_jaccard_ppm"),
        min(col("jac_ppm")).as("min_jaccard_ppm"),
        max(col("jac_ppm")).as("max_jaccard_ppm"))
  }

  /** SUBSUMPTION PRUNE — the applied form of [[containmentNearDup]]: drop
    * every doc contained (≥ threshold) in a doc with MORE shingles (ties →
    * the lower id survives, so exact-duplicate pairs keep exactly one).
    * One greedy deterministic pass, no iteration: X drops iff ∃Y with
    * containment(X in Y) ≥ τ and (|Y| > |X| or |Y| = |X| ∧ Y.id < X.id) —
    * whether Y itself survives doesn't matter (containment is not
    * transitive below τ=1, so chasing chains would be semantics, not an
    * optimization; the greedy rule is the standard quote/boilerplate
    * subsumption filter). Docs too short to shingle cannot be contained
    * and always survive. Output: (doc_id) of survivors. */
  def containmentDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      thresholdPpm: Long = 800000L): DataFrame = {
    val (base, bound) = shingleBandBase(docs, idCol, textCol, shingleN, numHashes, bands)
    val cand = bandSelfCandidates(base, bound)
    val sets = base.select(col("id"), col("shs").as("tok"))
    val scored = cand
      .join(sets.select(col("id").as("id_a"), col("tok").as("tok_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("tok").as("tok_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("tok_a"), col("tok_b"))).cast("long").as("inter"),
        size(col("tok_a")).cast("long").as("na"), size(col("tok_b")).cast("long").as("nb"))
    val drops = scored
      .where(expr(s"inter * 1000000 DIV na >= $thresholdPpm") &&
        (col("nb") > col("na") || (col("nb") === col("na") && col("id_b") < col("id_a"))))
      .select(col("id_a").as("did"))
      .unionByName(scored
        .where(expr(s"inter * 1000000 DIV nb >= $thresholdPpm") &&
          (col("na") > col("nb") || (col("na") === col("nb") && col("id_a") < col("id_b"))))
        .select(col("id_b").as("did")))
      .distinct()
    docs.select(col(idCol).as("doc_id"))
      .join(drops.withColumnRenamed("did", "doc_id"), Seq("doc_id"), "left_anti")
  }

  /** DELTA MinHash-LSH near-dup — the ingest-time companion of
    * [[exactDelta]]: flag incoming docs whose portable LSH band buckets
    * collide with the corpus's, verified by exact Jaccard. Each side is
    * hashed INDEPENDENTLY with [[minhashLshPortable]]'s md5 family, so at
    * production scale the corpus bucket table is computed once (persisted,
    * bucketed on the band key) and a new batch hashes only itself — the
    * candidate join is batch-buckets × corpus-buckets, never the corpus
    * self-join. Returns (incoming_id, corpus_id, jaccard) with exact
    * jaccard >= threshold. */
  def minhashLshDelta(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val cBase = shingleBase(corpus, idCol, textCol, shingleN)
    val iBase = shingleBase(incoming, idCol, textCol, shingleN)
    verifiedPairs(bandRows(iBase, numHashes, bands), iBase,
      bandRows(cBase, numHashes, bands), cBase, threshold)
  }

  /** (id, band, bk) band-bucket rows of a [[shingleBase]] frame. */
  private def bandRows(base: DataFrame, numHashes: Int, bands: Int): DataFrame = base
    .select(col("id"), posexplode(Vectors.md5BandKeys(numHashes, bands)(col("shs"))))
    .select(col("id"), col("pos").as("band"), col("col").as("bk"))

  /** Incoming/corpus pairs sharing a band bucket, verified by exact
    * Jaccard — the shared tail of [[minhashLshDelta]] and [[probeLshIndex]],
    * two physical forms of one semantics. Buckets are (id, band, bk) rows,
    * sets (id, shs) rows. */
  private def verifiedPairs(iBuckets: DataFrame, iSets: DataFrame, cBuckets: DataFrame,
      cSets: DataFrame, threshold: Double): DataFrame =
    iBuckets.withColumnRenamed("id", "incoming_id")
      .join(cBuckets.withColumnRenamed("id", "corpus_id"), Seq("band", "bk"))
      .select(col("incoming_id"), col("corpus_id"))
      .distinct()
      .join(iSets.select(col("id").as("incoming_id"), col("shs").as("tok_i")), Seq("incoming_id"))
      .join(cSets.select(col("id").as("corpus_id"), col("shs").as("tok_c")), Seq("corpus_id"))
      .withColumn("inter", size(array_intersect(col("tok_i"), col("tok_c"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("tok_i")) + size(col("tok_c")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("incoming_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))

  /** PUBLISH a portable minhash-LSH index for a corpus as two BUCKETED
    * tables — the amortize-once layout for ingest-time near-dup at 100 TB:
    * the corpus is shingled and banded EXACTLY ONCE, then every incoming
    * batch hashes only itself and probes the stored tables.
    *
    *   - `<table>_buckets` (band, bk, id), bucketed+sorted by `bk`: the
    *     candidate join key — a probe batch's (band, bk) join hits
    *     co-located corpus buckets with no corpus-side shuffle.
    *   - `<table>_docs` (id, shs), bucketed by `id`: the shingle sets the
    *     exact-Jaccard verify joins back by id.
    *
    * Hash family is [[minhashLshPortable]]'s md5 form, so the ENTIRE
    * stored-index pipeline (publish + probe) stays SQL-replayable and the
    * differential oracle certifies the persisted layout too. The
    * hash-family parameters ARE part of the index: a probe under a
    * different (shingleN, numHashes, bands) computes disjoint band keys and
    * would return a silently near-empty report, so `_meta` stores them and
    * [[probeLshIndex]] fails fast on a mismatch. `corpusFp` is the
    * caller-declared corpus identity (source dir + filter description):
    * two pipelines publishing the SAME table name over DIFFERENT corpus
    * subsets share every hash-family default, so only the fingerprint can
    * catch a probe against the wrong corpus. Staged commits, the
    * single-writer lease, crash points and recovery:
    * [[graft.sources.IndexStore]]. */
  def publishLshIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      buckets: Int = 8,
      corpusFp: String = ""): Unit = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    LshStore.publish(corpus.sparkSession, table) {
      val base = shingleBaseBanded(corpus, idCol, textCol, shingleN, numHashes, bands)
      (LshMeta(shingleN, numHashes, bands, buckets, corpusFp), lshRows(base))
    }
  }

  /** The `_buckets` and `_docs` rows of a [[shingleBaseBanded]] frame. */
  private def lshRows(base: DataFrame): Map[String, DataFrame] = Map(
    "buckets" -> base.select(col("id"), posexplode(col("bks")))
      .select(col("pos").as("band"), col("col").as("bk"), col("id")),
    "docs" -> base.select(col("id"), col("shs")))

  /** CROSS-SESSION RECOVERY of a published LSH index after a JVM restart:
    * reads the `_meta` file, checks its layout and every committed epoch
    * directory of `_buckets`/`_docs` (nothing rewritten), and certifies the
    * result with the strict per-doc audit; an index written before epoch
    * directories is migrated once. `expectedCorpusFp`, when non-null, must match
    * the stored fingerprint. Probes after recovery answer the pre-restart
    * oracle verbatim (q319; RecoverySpec proves it across a REAL
    * SparkContext restart). Contract: [[graft.sources.IndexStore.recover]]. */
  def recoverLshIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      expectedCorpusFp: String = null): Unit =
    LshStore.recover(spark, table, expectedCorpusFp)

  /** APPEND a new batch to a published LSH index — the maintenance path of
    * the publish-once/probe-forever layout: the batch is shingled and
    * banded under the index's OWN stored hash family (read from `_meta`,
    * never caller-supplied — a mismatched append would poison the index)
    * and its rows are appended to the bucketed tables under the SAME
    * bucket spec, so probe-side co-location is preserved. Because the
    * publish pipeline is per-doc deterministic with no cross-doc state,
    * append(publish(A), B) produces tables row-equal to publish(A ∪ B) —
    * certified by the q261 oracle. Batch ids already present in the index
    * are refused loudly (a duplicate id would duplicate every one of its
    * probe result rows); the ids-only semi-join is batch-sized on the
    * shuffle side. `newCorpusFp` replaces the stored corpus fingerprint —
    * pass the describing string for corpus ∪ batch. The staged batch is
    * committed only when complete (`bands` band rows per doc row).
    * Staged-commit and single-writer contract: [[graft.sources.IndexStore]]. */
  def appendLshIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      newCorpusFp: String = ""): Unit =
    LshStore.append(batch, table, newCorpusFp) { s =>
      // shingled by the duplicate check, which overlaps ALLOCATE
      lazy val base = shingleBaseBanded(batch, idCol, textCol, s.m.shingleN,
        s.m.numHashes, s.m.bands)
      IndexStore.Batch(() => base.select(col("id")), () => lshRows(base))
    }

  /** Consistency audit over a published LSH index. Cheap form: by
    * construction every indexed doc contributes exactly `bands` band rows
    * and exactly 1 docs row, so `count(_buckets) == bands * count(_docs)` —
    * two COUNTs, no shuffle, nearly free even on a 100 TB index. Strict
    * form: the full per-doc invariant in one pass, which also catches
    * count-balanced corruption. */
  def assertLshIndexConsistent(spark: org.apache.spark.sql.SparkSession,
      table: String, strict: Boolean = false): Unit =
    LshStore.assertConsistent(spark, table, strict)

  /** Self-serve MAINTENANCE REPORT for a published LSH index: per data
    * table, committed vs orphan rows/epochs (orphans = torn-append leftovers
    * awaiting compaction GC) and the small-file count per bucket table —
    * see [[graft.sources.IndexStore.describe]]. Run it before scheduling
    * [[compactLshIndex]]; a `files` count far above the bucket spec or a
    * nonzero `rows_orphan` is the signal. */
  def describeLshIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    LshStore.describe(spark, table)

  /** LSH BUCKET CENSUS — the banding-health diagnostic: per band, the
    * histogram of bucket sizes. The candidate join's cost is
    * Σ size², so one hot bucket (boilerplate-dominated corpora collapse
    * a band key onto thousands of docs) is THE scale hazard of
    * [[minhashLshPortable]]/[[publishLshIndex]]; this census is the
    * audit to run before committing to a (shingleN, numHashes, bands)
    * family at full corpus scale. Ids-only aggregation — never pairs. */
  def lshBucketCensus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val base = shingleBase(docs, idCol, textCol, shingleN)
    base
      .select(posexplode(Vectors.md5BandKeys(numHashes, bands)(col("shs"))))
      .select(col("pos").as("band"), col("col").as("bk"))
      .groupBy(col("band"), col("bk")).agg(count(lit(1)).as("sz"))
      .groupBy(col("band").cast("long").as("band"), col("sz"))
      .agg(count(lit(1)).as("n_buckets"))
  }

  /** COMPACT an append-maintained LSH index: every [[appendLshIndex]]
    * leaves its own file-set per bucket, so a long-lived index accumulates
    * small files (listing + open cost at scale). Rewrites `_buckets` and
    * `_docs` at the STORED bucket spec — rows, bucketing, fingerprint and
    * hash-family meta all unchanged, so a probe before and after compaction
    * is row-identical (certified by q276's oracle, shared with q250/q261).
    * Orphaned epochs are dropped and the STRICT audit runs after the flip —
    * the table was just rewritten end-to-end anyway, so the maintenance
    * window is the one place the per-doc invariant is cheap relative to the
    * work already done ([[graft.sources.IndexStore.compact]]). */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    LshStore.compact(spark, table)

  /** [[publishLshIndex]] only if no index is stored under `table` — the
    * amortize-once discipline ([[graft.sources.Bucketing.ensureBucketed]]):
    * a repeated pipeline (or the bench) pays the corpus hash + write once
    * and every later call times only the probe, which is the production
    * steady state. An existing index must have been published over THIS
    * corpus with THIS hash family. */
  def ensureLshIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      buckets: Int = 8,
      corpusFp: String = ""): Unit =
    LshStore.ensure(corpus.sparkSession, table, corpusFp, (shingleN, numHashes, bands))(
      publishLshIndex(corpus, idCol, textCol, table, shingleN, numHashes, bands, buckets,
        corpusFp))

  /** Stored parameters + corpus fingerprint + committed-epoch state of a
    * published LSH index — the typed `_meta` row. */
  final case class LshMeta(
      shingleN: Int, numHashes: Int, bands: Int, buckets: Int, corpusFp: String,
      eps: Seq[Long] = Seq(0L), nextEp: Long = 1L) extends IndexMeta[LshMeta] {
    def withEpochs(corpusFp: String, eps: Seq[Long], nextEp: Long): LshMeta =
      copy(corpusFp = corpusFp, eps = eps, nextEp = nextEp)
  }

  /** The LSH family of [[graft.sources.IndexStore]]: `_buckets` bucketed by
    * band key and `_docs` by id, both epoch-gated; the hash family is the
    * parameter identity. */
  private[graft] object LshStore extends IndexStore[LshMeta]("lsh", "Lsh",
      Seq(IndexStore.Table("buckets", "bk", epochGated = true),
        IndexStore.Table("docs", "id", epochGated = true)),
      idTable = "docs", idCol = "id")(Encoders.product[LshMeta]) {

    def params(m: LshMeta): Product = (m.shingleN, m.numHashes, m.bands)
    val paramNames = "(shingle_n, num_hashes, bands)"

    /** Commit only a COMPLETE staged batch: the per-epoch count relation
      * (bands × docs rows) is the invariant the index-wide audit proves,
      * checked on exactly the rows about to become visible. */
    override def stagedCheck(spark: org.apache.spark.sql.SparkSession, table: String,
        s: IndexStore.Stored[LshMeta], ep: Long): Unit = {
      val (sbRows, sdRows) = Par.both(
        rowsAt(spark, table, s, "buckets", Seq(ep)).count(),
        rowsAt(spark, table, s, "docs", Seq(ep)).count())
      require(sbRows == s.m.bands.toLong * sdRows,
        s"appendLshIndex: staged batch is incomplete ($sbRows band rows != " +
          s"${s.m.bands} bands x $sdRows doc rows) — NOT committed; probes are " +
          "unaffected, retry the append")
    }

    def audit(spark: org.apache.spark.sql.SparkSession, table: String,
        s: IndexStore.Stored[LshMeta], strict: Boolean): Unit = {
      val m = s.m
      def committed(sfx: String) = rows(spark, table, s, sfx)
      if (!strict) {
        // the two whole-table counts touch independent tables — overlapped
        val (bRows, dRows) = Par.both(committed("buckets").count(), committed("docs").count())
        require(bRows == m.bands.toLong * dRows,
          s"LSH index '$table' is inconsistent: $bRows band rows != ${m.bands} bands x " +
            s"$dRows doc rows — likely a torn append; republish via publishLshIndex")
      } else {
        // The strict pass SUBSUMES the count relation, so it skips the two
        // counts: a full-outer join between the per-id band census and the
        // per-id docs census flags every id that (a) misses docs rows, (b)
        // misses bucket rows, (c) has a band-row count != bands, or (d) has
        // a duplicated docs row. BOTH sides are aggregated per id — an
        // unaggregated docs side would let a duplicated _docs row slip
        // through (each join copy passes __n == bands on its own). One
        // groupBy per side + one join, maintenance-window cheap.
        val bCounts = committed("buckets").groupBy(col("id")).agg(count(lit(1)).as("__n"))
        val dCounts = committed("docs").groupBy(col("id")).agg(count(lit(1)).as("__d"))
        val bad = bCounts.join(dCounts, Seq("id"), "full_outer")
          .where(col("__n").isNull || col("__d").isNull ||
            col("__n") =!= m.bands.toLong || col("__d") =!= 1L)
          .count()
        require(bad == 0L,
          s"LSH index '$table' is corrupt (strict per-doc invariant — catches " +
            s"even count-balanced tears): $bad ids lack a docs row, " +
            s"have a duplicated docs row, lack bucket rows, or do not have " +
            s"exactly ${m.bands} band rows — republish via publishLshIndex")
      }
    }
  }

  /** Shared shingle-set prep of the PORTABLE md5 LSH family — ONE
    * definition on purpose: [[minhashLshPortable]], [[minhashLshDelta]],
    * [[publishLshIndex]] and [[probeLshIndex]] must shingle bit-identically
    * for the probe≡delta certification (and the SQL oracle) to hold.
    * Widen → compiled shingling → drop empty sets ([[shingled]]) →
    * materialize (every caller reads the result at least twice). */
  private def shingleBase(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    shingled(docs, idCol, textCol, shingleN).localCheckpoint(true)

  /** The unmaterialized (id, shs) shingle sets every md5 LSH path builds on. */
  private def shingled(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    Par.widen(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), Vectors.shinglesFast(shingleN)(col("__t")).as("shs"))
      .where(size(col("shs")) > 0)

  /** [[shingleBase]] with the md5 band keys MATERIALIZED alongside the
    * shingle sets — the index WRITE paths (publish/append) use this so the
    * CPU-heavy md5 kernel runs at full kernel width during checkpoint
    * materialization, leaving the bucket-table write input a cheap explode
    * that [[Par.narrowForWrite]] can safely narrow to a size-derived task
    * count (r17 measurement: the unmaterialized write re-ran the md5
    * kernel inside the write tasks, so narrowing it serialized the kernel
    * — 2.0 s single-task vs 0.3 s materialized at sf0.1). Shingling and
    * band keys are bit-identical to [[shingleBase]] + [[Vectors.md5BandKeys]]
    * (same kernels, same empty-set filter) — the probe ≡ publish
    * certification discipline is unchanged. */
  private def shingleBaseBanded(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, bands: Int): DataFrame =
    shingled(docs, idCol, textCol, shingleN)
      .select(col("id"), col("shs"),
        Vectors.md5BandKeys(numHashes, bands)(col("shs")).as("bks"))
      .localCheckpoint(true)

  /** [[shingleBase]] + band keys (+ optionally the full md5 signature) in
    * ONE materialized pass, plus a sound upper bound on the largest
    * (band, bucket) occupancy computed DURING checkpoint materialization —
    * zero jobs beyond the checkpoint itself. The self-join family
    * ([[minhashLshPortable]], [[containmentNearDup]], [[containmentDedup]],
    * [[minhashCalibration]]) uses this instead of checkpointing base and
    * the exploded bucket table separately: the md5 kernel runs once into
    * the materialized `bks` array, every downstream consumer (banding
    * explode, both verify-join sides) re-reads cached blocks, and the
    * explode itself is a cheap row expansion safe to recompute per
    * consumer. Shingling is bit-identical to [[shingleBase]] (same kernel,
    * same empty-set filter) — the probe≡delta certification discipline.
    *
    * The bound: each task of the materialization job counts its
    * partition's local (band, key) occupancies from the `bks` arrays and
    * returns its TOP-K census — the K largest (key, count) entries plus
    * `restMax`, the largest count among its remaining keys. The driver
    * merges BY KEY ([[mergeTopKBounds]]): a key's global count is a sum
    * of per-partition counts, each ≤ its top-K entry where listed and
    * ≤ that partition's restMax where not, so the merged figure is a
    * sound global-max bound. Unlike the r12 Σ-of-partition-maxima bound
    * (which scaled as maxPerPartition × partitions and routinely
    * inverted `bound ≤ cap` at realistic widths — 32 partitions × local
    * max 400 ≈ 12,800 > cap while the true max was 400), the merged
    * bound tracks trueMax + Σ restMax: a concentrated hot key costs
    * ~trueMax + partitions, so the uncapped plan stays provably safe at
    * moderate widths. The honest residual: EVERY one-pass bounded-state
    * bound carries a Σ-over-partitions floor (a key could hide below
    * restMax in each partition), so at partition counts approaching the
    * cap the capped plan becomes the de-facto default — by design: it is
    * pay-per-anomaly (one partial agg + a near-empty broadcast anti-join)
    * and result-identical when nothing exceeds the cap (PropertySpec).
    * Per-task memory is one count map over the partition's distinct keys.
    * The counting job runs over the lazily checkpoint-marked plan, so it
    * doubles as the materialization (`runJob` finalizes marked RDDs when
    * the job ends — the mechanism behind
    * `Dataset.localCheckpoint(eager = true)` itself). */
  private def shingleBandBase(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, bands: Int, withSig: Boolean = false): (DataFrame, Long) = {
    val base = shingled(docs, idCol, textCol, shingleN)
    val proj =
      if (withSig) base.select(col("id"), col("shs"),
        Vectors.md5Signature(numHashes)(col("shs")).as("sig"),
        Vectors.md5BandKeys(numHashes, bands)(col("shs")).as("bks"))
      else base.select(col("id"), col("shs"),
        Vectors.md5BandKeys(numHashes, bands)(col("shs")).as("bks"))
    val ck = proj.localCheckpoint(false)
    val bksIdx = ck.schema.fieldIndex("bks")
    val censuses = ck.sparkSession.sparkContext.runJob(
      ck.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val m = new java.util.HashMap[String, Long]()
        while (it.hasNext) {
          val r = it.next()
          if (!r.isNullAt(bksIdx)) {
            val arr = r.getArray(bksIdx)
            val n = arr.numElements()
            var i = 0
            while (i < n) {
              if (!arr.isNullAt(i)) {
                // key string copies out of the reused unsafe-row buffer
                val key = i.toString + "|" + arr.getUTF8String(i).toString
                m.merge(key, java.lang.Long.valueOf(1L), (a, b) => a + b)
              }
              i += 1
            }
          }
        }
        topKCensus(m, boundTopK)
      })
    (ck, mergeTopKBounds(censuses.toSeq))
  }

  /** Entries kept per partition for the bucket-occupancy bound: driver
    * merge state is partitions × K — model-sized at any width. */
  private[graft] val boundTopK = 16

  /** The K largest (key, count) entries of a partition's occupancy census
    * plus `restMax` = the largest count among the keys NOT kept (0 when
    * every key is kept). Pure; extracted for the bound property test. */
  private[graft] def topKCensus(
      m: java.util.HashMap[String, Long], k: Int): (Array[(String, Long)], Long) = {
    if (m.size <= k) {
      val top = new Array[(String, Long)](m.size)
      var i = 0
      val it = m.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); top(i) = (e.getKey, e.getValue); i += 1 }
      (top, 0L)
    } else {
      // selection via a size-K min-heap on counts: O(n log K)
      val heap = new java.util.PriorityQueue[(String, Long)](
        k, (a: (String, Long), b: (String, Long)) => java.lang.Long.compare(a._2, b._2))
      var restMax = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (heap.size < k) heap.add((e.getKey, e.getValue))
        else if (e.getValue > heap.peek()._2) {
          val evicted = heap.poll()._2
          if (evicted > restMax) restMax = evicted
          heap.add((e.getKey, e.getValue))
        } else if (e.getValue > restMax) restMax = e.getValue
      }
      (heap.toArray(new Array[(String, Long)](heap.size)), restMax)
    }
  }

  /** Merge per-partition top-K censuses into a SOUND global-max-occupancy
    * bound. For any key k: count(k) = Σ_p localCount_p(k), and
    * localCount_p(k) ≤ topK_p(k) when listed, ≤ restMax_p otherwise — so
    * max over listed keys of that per-key sum, together with
    * Σ restMax_p (a key listed nowhere), bounds every key's global count.
    * Always ≤ the old Σ-of-partition-maxima bound (each term is).
    * Pure; exercised directly by the PropertySpec bound properties. */
  private[graft] def mergeTopKBounds(censuses: Seq[(Array[(String, Long)], Long)]): Long = {
    val restSum = censuses.iterator.map(_._2).sum
    val perKey = new java.util.HashMap[String, Long]()
    // Σ_p [topK_p(k) − restMax_p] accumulated per listed key; add restSum
    // at the end — equivalent to Σ_p (topK_p(k) when listed else restMax_p)
    censuses.foreach { case (top, restMax) =>
      top.foreach { case (key, c) =>
        perKey.merge(key, java.lang.Long.valueOf(c - restMax), (a, b) => a + b)
      }
    }
    var best = 0L
    val it = perKey.values().iterator()
    while (it.hasNext) { val v = it.next(); if (v > best) best = v }
    // a listed key's surplus can be negative in theory only when c <
    // restMax, which top-K selection forbids; max(best, 0) guards anyway
    math.max(best, 0L) + restSum
  }

  /** The (id, band, bk) LSH band-bucket CELLS of `docs` — the claimable
    * units of greedy streaming near-dup dedup (see
    * [[graft.streaming.Streams.ingestNearDupDocs]]): two docs sharing any
    * cell are near-dup candidates, so "first toucher of every cell wins"
    * is the at-ingest greedy policy. Same md5 band keys as
    * [[minhashLshPortable]]/[[publishLshIndex]] — one compiled kernel call
    * per doc. Docs with no shingles (under `shingleN` tokens) have no
    * cells. */
  def bandBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    bandRows(shingleBase(docs, idCol, textCol, shingleN), numHashes, bands)
  }

  /** PROBE a [[publishLshIndex]] index with an incoming batch: hash the
    * batch (only the batch — the corpus work is amortized in the index),
    * join the stored buckets on (band, bk), verify candidates by exact
    * Jaccard against the stored shingle sets. Identical output to
    * [[minhashLshDelta]] over (corpus, incoming) — the delta op and the
    * stored-index op are two physical forms of the same semantics.
    * Returns (incoming_id, corpus_id, jaccard >= threshold). */
  def probeLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      corpusFp: String = ""): DataFrame = {
    // fail fast on a hash-family mismatch with the published index — the
    // band keys of a different (shingleN, numHashes, bands) are disjoint
    // and the probe would return a silently near-empty report. The corpus
    // fingerprint catches the OTHER silent-wrong case: same hash family,
    // same table name, different corpus subset behind it.
    val s = LshStore.probeMeta(spark, table, corpusFp, Some((shingleN, numHashes, bands)))
    val iBase = shingleBase(incoming, idCol, textCol, shingleN)
    verifiedPairs(bandRows(iBase, numHashes, bands), iBase,
      LshStore.rows(spark, table, s, "buckets"), LshStore.rows(spark, table, s, "docs"),
      threshold)
  }

  /** WARM-START connected components for a GROWING pair graph — the
    * incremental companion of [[components]] for ingest-time dedup-apply:
    * instead of re-propagating over every historical edge, the previous
    * round's labels enter as star edges (id → cluster), which preserve the
    * old graph's connectivity in depth ≤ 2, and only the NEW pairs add
    * structure. Convergence is then bounded by the new edges' diameter
    * (typically 1-2 rounds), not the full graph's — rounds × |labels ∪
    * newPairs| work instead of rounds × |all pairs ever|.
    *
    * Reaches the SAME fixed point as `components(oldPairs ∪ newPairs)`
    * (star edges are connectivity-preserving contractions), which is
    * exactly what the differential oracle recomputes. Output: (id, cluster)
    * for every id in `prevLabels` or `newPairs`. */
  def componentsIncremental(
      prevLabels: DataFrame,
      newPairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    val starEdges = prevLabels.where(col("id") =!= col("cluster"))
      .select(col("id").as(idA), col("cluster").as(idB))
    // old singletons have no star edge and would drop out of the edge-only
    // propagation — reattach them (cluster = own id) after the fact
    val out = components(starEdges.unionAll(newPairs.select(col(idA), col(idB))),
      idA, idB, maxIter)
    val singletons = prevLabels.select(col("id"), col("cluster"))
      .join(out.select(col("id")), Seq("id"), "left_anti")
    out.unionByName(singletons)
  }

  /** SimHash near-dup pairs: fingerprint every doc, generate candidates by
    * exact-match on pigeonhole block-combination keys (Manku-Jain-Sarma
    * WWW'07: `maxHamming + 3` blocks, every 3-block subset as a key — a pair
    * within `maxHamming` has ≥3 clean blocks, hence shares at least one
    * subset key; see [[Vectors.simhashBlockKeys]]), verify by Hamming
    * distance. Recall is exact (guaranteed 1.0 for Hamming ≤ maxHamming),
    * and the ~33-bit keys keep bucket sizes ~O(1) at corpus scale where the
    * round-1 16-bit chunks saturated at 65k buckets. */
  def simhash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fp = Par.widen(docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), Vectors.simhash(Text.tokens(col("__t"))).as("fp"))
    val keyed = fp.select(col("id"), col("fp"),
      explode(Vectors.simhashBlockKeys(maxHamming + 3, 3)(col("fp"))).as("k"))
      // localCheckpoint: both sides of the candidate self-join read this —
      // without it the tokenize + 64-bit-count simhash kernel runs twice
      // over the corpus. (id, fp, k) rows are ~24 bytes — combos×n of them.
      // (Carrying fp through the self-join beats ids-only pairs + two
      // fingerprint join-backs here: a checkpointed plan has no stats, so
      // the join-backs plan as sort-merge joins whose two extra shuffles
      // cost more than the 8 wider bytes/row through ONE shuffle.)
      .localCheckpoint(true)
    val l = keyed.select(col("k"), col("id").as("id_a"), col("fp").as("fp_a"))
    val r = keyed.select(col("k"), col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(r, Seq("k")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b").distinct()
      .withColumn("hamming", Vectors.hamming64(col("fp_a"), col("fp_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding-cosine near-duplicate pairs, exact: all pairs with
    * cosine ≥ threshold. O(n²) — the oracle baseline for
    * [[embeddingNearDupLsh]]; use that at scale. */
  def embeddingNearDup(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    // Broadcast-side loop, not a 2-sided cross join: materializing n²/2 pair
    // ROWS each carrying two float arrays through a UDF costs ~10× the
    // arithmetic. Instead the whole (id, vec, norm) set broadcasts once
    // (primitive arrays), each partition loops its rows against the
    // broadcast half with id > rowId in a tight loop, and only
    // above-threshold pairs are ever materialized. The corpus side streams —
    // this is the exact-baseline shape; LSH (below) is the n² escape hatch.
    import vecs.sparkSession.implicits._
    val base = vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])]
    // Fail-fast size guard: this operator is the O(n²) EXACT baseline and
    // collects the whole (id, vec) set to the driver. Unguarded, a 100x
    // input silently OOMs the driver; bounded, it stays what it is — a
    // verification baseline. Tunable for bigger driver heaps via
    // spark.graft.exactNearDup.maxRows.
    val maxRows = vecs.sparkSession.conf
      .getOption("spark.graft.exactNearDup.maxRows")
      .map(v => try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.exactNearDup.maxRows must be a long, got '$v'")
      })
      .getOrElse(1000000L)
    val n = base.count()
    require(n <= maxRows,
      s"embeddingNearDup is the exact O(n^2) baseline and collects all $n vectors " +
      s"to the driver (limit $maxRows, conf spark.graft.exactNearDup.maxRows); " +
      "use Dedup.embeddingNearDupLsh for production-scale near-dup")
    val all: Array[(Long, Array[Float], Double)] = base.collect()
      .map { case (id, v) =>
        val a = v.toArray
        var s = 0.0
        var i = 0
        while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
        (id, a, math.sqrt(s))
      }.sortBy(_._1)
    val bc = vecs.sparkSession.sparkContext.broadcast(all)
    base.mapPartitions { rows =>
      val cand = bc.value
      rows.flatMap { case (id, v) =>
        val a = v.toArray
        var s = 0.0
        var i = 0
        while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
        val na = math.sqrt(s)
        cand.iterator.filter(_._1 > id).flatMap { case (idB, b, nb) =>
          var dot = 0.0
          var j = 0
          val n = math.min(a.length, b.length)
          while (j < n) { dot += a(j).toDouble * b(j).toDouble; j += 1 }
          val cos = dot / (na * nb)
          if (cos >= threshold) Some((id, idB, cos)) else None
        }
      }
    }.toDF("id_a", "id_b", "c")
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cosine"))
  }

  /** SEMANTIC dedup, cluster-bounded (SemDeDup, Abbas et al. 2023): assign
    * every embedding to its nearest centroid, then compare pairs only
    * WITHIN a cluster — the O(Σ|c|²) middle ground between the exact O(n²)
    * baseline ([[embeddingNearDup]]) and banded LSH
    * ([[rpLshNearDupPortable]]): candidate generation follows the data's
    * own density rather than random hyperplanes, which is why production
    * semantic-dedup pipelines cluster first.
    *
    * Everything is FIXED POINT so the whole pipeline (quantize → assign →
    * pair → cosine test) is hash-verifiable cross-engine: vectors quantize
    * to floor(x·scale) longs; assignment is an exact integer argmin of
    * squared distance (ties → lowest centroid id); the cosine threshold
    * test cross-multiplies — dot² · thrDen² ≥ ‖a‖²·‖b‖² · thrNum² in
    * decimal(38,0) (DuckDB HUGEINT) — so no square root, no float division,
    * no rounding anywhere.
    *
    * Centroids here are the `k` lowest-id vectors (deterministic,
    * model-sized collect — the SQL oracle replays them); production trains
    * them with the integer-Lloyd pass of `Similarity.ivfKnnPortable`
    * (q124) and passes more clusters. Plan shape: narrow quantize+assign
    * projection (broadcast seeds) → ids+vectors self-join on cluster (ONE
    * shuffle; a mega-cluster bounds its own tasks — split it by raising k
    * or salting the hot cluster) → codegen-friendly HOF dot products.
    * Returns (cluster, id_a, id_b, dotv), id_a < id_b, cosine ≥
    * thrNum/thrDen. */
  def semanticDedup(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      thrNum: Int = 99,
      thrDen: Int = 100,
      scale: Long = 1024L,
      dim: Int = 64): DataFrame = {
    require(k > 0 && thrNum > 0 && thrDen >= thrNum,
      s"need k > 0 and 0 < thrNum <= thrDen, got k=$k, $thrNum/$thrDen")
    val q = vecs
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        Vectors.fixedPointQuant(scale)(col(vecCol)).as("e"))
    val assign = seedAssign(vecs, q, k)
    val assigned = q
      .withColumn("cluster", assign(col("e")))
      .withColumn("nn", expr("dot_i64(e, e)")) // codegen kernel (see DotI64)
      .localCheckpoint(true) // both sides of the cluster self-join
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("e").as("ea"), col("nn").as("na"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("e").as("eb"), col("nn").as("nb"))
    a.join(b, Seq("cluster")).where(col("id_a") < col("id_b"))
      // the pair scan is the O(Σ|c|²) hot loop — dot_i64 keeps it inside
      // whole-stage codegen (a HOF zip_with+aggregate would allocate a
      // 64-element array per pair)
      .withColumn("dotv", expr("dot_i64(ea, eb)"))
      .where(col("dotv") > 0 &&
        col("dotv").cast("decimal(38,0)") * col("dotv") * lit(thrDen.toLong * thrDen) >=
        col("na").cast("decimal(38,0)") * col("nb") * lit(thrNum.toLong * thrNum))
      .select(col("cluster").cast("long").as("cluster"),
        col("id_a"), col("id_b"), col("dotv"))
  }

  /** Shared centroid assignment of the SemDeDup family: seeds are the `k`
    * lowest-id quantized vectors of `seedSrc` (deterministic, model-sized
    * collect, broadcast), assignment is an exact integer argmin of squared
    * distance with ties to the lowest centroid index — the rule the SQL
    * oracles replay via `row_number() OVER (ORDER BY d, cid)`. */
  private def seedAssign(
      session: DataFrame,
      seedSrc: DataFrame,
      k: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val seeds: Array[Array[Long]] = seedSrc.orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    val bc = session.sparkSession.sparkContext.broadcast(seeds)
    udf { (e: Seq[Long]) =>
      val cs = bc.value
      val ev = e.toArray
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cs.length) {
        var d = 0L
        var i = 0
        val cv = cs(c)
        while (i < cv.length) { val t = ev(i) - cv(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c } // strict < : ties keep lowest c
        c += 1
      }
      best
    }
  }

  /** DELTA semantic dedup — the ingest shape of [[semanticDedup]]: the
    * incoming batch is assigned to the CORPUS's frozen seed centroids and
    * compared only against corpus vectors of the same cluster — never a
    * corpus self-join, mirroring [[exactDelta]]/[[minhashLshDelta]]. The
    * corpus side ships only (cluster, id, e, ‖e‖²); the batch side is
    * usually broadcast-sized, and the join is a plain cluster equi-join
    * either way. Same fixed-point pipeline as [[semanticDedup]] — hash-
    * verifiable end to end. Returns (cluster, inc_id, cor_id, dotv). */
  def semanticDedupDelta(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      thrNum: Int = 99,
      thrDen: Int = 100,
      scale: Long = 1024L,
      dim: Int = 64): DataFrame = {
    require(k > 0 && thrNum > 0 && thrDen >= thrNum,
      s"need k > 0 and 0 < thrNum <= thrDen, got k=$k, $thrNum/$thrDen")
    def quant(df: DataFrame): DataFrame = df
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        Vectors.fixedPointQuant(scale)(col(vecCol)).as("e"))
    val cor = quant(corpus)
    val inc = quant(incoming)
    val assign = seedAssign(corpus, cor, k)
    def side(df: DataFrame, idOut: String, eOut: String, nOut: String): DataFrame =
      df.withColumn("cluster", assign(col("e")))
        .withColumn(nOut, expr("dot_i64(e, e)"))
        .select(col("cluster"), col("id").as(idOut), col("e").as(eOut), col(nOut))
    side(inc, "inc_id", "ei", "ni")
      .join(side(cor, "cor_id", "ec", "nc"), Seq("cluster"))
      .withColumn("dotv", expr("dot_i64(ei, ec)"))
      .where(col("dotv") > 0 &&
        col("dotv").cast("decimal(38,0)") * col("dotv") * lit(thrDen.toLong * thrDen) >=
        col("ni").cast("decimal(38,0)") * col("nc") * lit(thrNum.toLong * thrNum))
      .select(col("cluster").cast("long").as("cluster"),
        col("inc_id"), col("cor_id"), col("dotv"))
  }

  /** Embedding-cosine near-dup at scale: random-hyperplane signatures,
    * candidates = pairs agreeing exactly on at least one `bitsPerBand`-bit
    * signature band (1 shuffle on band keys), verified by exact cosine ≥
    * threshold. Band sizing: P(band match) = (1 - θ/π)^bitsPerBand, recall =
    * 1-(1-p)^bands — at a production threshold (≥0.9) long bands (16+) prune
    * hard with near-1 recall; for low thresholds use short bands and expect
    * recall < 1. Approximate — rows-only correctness check. */
  def embeddingNearDupLsh(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bands: Int = 12,
      bitsPerBand: Int = 5): DataFrame = {
    val planes = bands * bitsPerBand
    require(planes <= 64, s"bands*bitsPerBand = $planes must fit a 64-bit signature")
    val mask = (1L << bitsPerBand) - 1
    val sigd = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", Vectors.rpSignature(planes)(col("v")))
    val blocks = sigd.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        i => struct(i.as("block"),
          call_function("shiftright", col("sig"), i * bitsPerBand).bitwiseAND(mask).as("key")))).as("b"))
    val cand = blocks.join(blocks.withColumnRenamed("id", "id2"), Seq("b"))
      .where(col("id") < col("id2"))
      .select(col("id").as("id_a"), col("id2").as("id_b")).distinct()
    // Verify candidates by joining ids back to the vectors DF — the same
    // shape as [[minhashLsh]]'s shingle join-back: only (band, id) pairs ride
    // the candidate shuffle, and the vector payload is attached once,
    // post-candidate, via two equi-joins that AQE can broadcast when the
    // candidate set is small. Nothing data-sized ever reaches the driver.
    // Scoring uses the codegen dot_f32 / norm2_f32 kernels.
    // zero-norm vectors (padding / failed embeds) would make cosine 0/0 =
    // NaN, and SQL NaN sorts ABOVE every double so `>= threshold` would
    // admit them — exclude them up front (the JVM baseline drops them via
    // NaN comparison semantics; this keeps the two paths agreeing)
    val vdf = sigd.select(col("id"), col("v"),
      sqrt(call_function("norm2_f32", col("v"))).as("nrm"))
      .where(col("nrm") > 0)
    cand
      .join(vdf.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), Seq("id_a"))
      .join(vdf.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), Seq("id_b"))
      .withColumn("c", call_function("dot_f32", col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cosine"))
  }

  /** Near-duplicate CLUSTERS from a pair list — the step after candidate
    * generation that dedup actually needs: connected components, labeling
    * every member with the smallest id reachable through the pair graph
    * (keep `id == cluster` as the representative, drop the rest).
    *
    * Algorithm: min-label propagation with pointer jumping — each round,
    * every node takes the minimum label among itself and its neighbors,
    * then additionally its label's label (the join-agg analog of union-find
    * path halving, in the spirit of Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14). Doubling the horizon per round
    * gives O(log diameter) convergence — a 100-link chain closes in ~8
    * rounds — at two equi-joins + one partial-agg shuffle per round;
    * `localCheckpoint` cuts the growing lineage each round.
    * Output: (id, cluster) for every id occurring in `pairs`. */
  /** Rounds executed by the most recent [[components]] call on this JVM —
    * drill/bench observability only (single-writer maintenance-style use;
    * the drill reads it right after its kernel). */
  private[graft] val lastComponentsRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  def components(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(idA).as("a"), col(idB).as("b"))
      .union(pairs.select(col(idB).as("a"), col(idA).as("b")))
      .distinct().localCheckpoint(true)
    // round-0 for free: label₀ = min(id, 1-hop neighbors) — edges carry both
    // directions, so one groupBy covers every node AND already performs the
    // first neighbor-min propagation without the loop round's two joins +
    // two checkpoints (profiled r8: drops the sf0.1 ladder from 4 loop
    // rounds to 3 on the multi-signal graph)
    var labels = edges.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("label"))
      .select(col("a").as("id"), col("label"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // (convergence checked below; non-convergence raises, never silently
      // returns partially propagated labels)
      // ONE shuffle computes the round's propagation (r18, guide §2.4):
      // neighbor labels and self labels union into a single id-keyed
      // aggregation — min over the union IS least(own, min(neighbors)),
      // and the self row (exactly one per id, labels is id-unique by
      // construction) carries the round's START label out as __old via
      // max(when(__self)). The r17 shape joined labels AGAINST the
      // aggregated neighbor-min — a second id-keyed exchange + join per
      // round that this form subsumes; results are identical including
      // the no-neighbor case (the self row alone ⇒ label unchanged,
      // exactly what the old left_outer coalesce produced).
      // eager checkpoint kept deliberately: a lazy .persist() here (one
      // fewer job per round) was profiled r8 at parity-to-worse — the
      // cache's block-locking inside the twice-consuming jump join eats the
      // saved scheduler latency — and the checkpoint's hard barrier keeps
      // round cost deterministic
      val propagated = edges.join(labels, edges("b") === labels("id"))
        .select(edges("a").as("id"), col("label"), lit(false).as("__self"))
        .union(labels.select(col("id"), col("label"), lit(true).as("__self")))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"),
          max(when(col("__self"), col("label"))).as("__old"))
        .localCheckpoint(true)
      // convergence decided HERE, before the jump: at the neighbor-min
      // fixed point labels are already component-constant (label(x) ≤ every
      // neighbor's label, symmetric edges ⇒ equality across edges), so the
      // jump is the identity and the final confirming round skips its join
      // + checkpoint entirely (the ladder's last rung is half price)
      converged = propagated.where(col("label") =!= col("__old")).isEmpty
      if (converged) {
        labels = propagated.drop("__old")
      } else {
        // pointer jumping: label(x) ← min(label(x), label(label(x))) —
        // doubles the propagation horizon per round, so convergence is
        // O(log diameter) instead of O(diameter) (the join-agg analog of
        // union-find path halving; long chains no longer exhaust maxIter)
        val updated = propagated.as("a")
          .join(propagated.select(col("id").as("pid"), col("label").as("plabel")),
            col("a.label") === col("pid"), "left_outer")
          .select(col("a.id").as("id"),
            least(col("a.label"), coalesce(col("plabel"), col("a.label"))).as("label"))
          .localCheckpoint(true)
        labels = updated
      }
      i += 1
    }
    // observability for the iteration-ladder cost model (rounds × [1 join +
    // 1 union-agg + 1 checkpoint + 1 isEmpty, + the jump join on non-final
    // rounds]): sf0.1 multi-signal graph (q179) converges in 2 propagation
    // rounds + 1 confirming round (diameter ≤ 2²). The counter feeds the
    // scale drill's cc_rounds extra (r18) so the record shows the ladder
    // LENGTH, not just its wall time.
    lastComponentsRounds.set(i)
    if (sys.env.contains("SPARK_GRAFT_DEBUG_COMPONENTS"))
      System.err.println(s"[components] converged after $i rounds")
    require(converged,
      s"components did not converge in $maxIter pointer-jumping rounds " +
        s"(component diameter ≳ 2^$maxIter — no real near-dup graph looks " +
        "like this; suspect a data or algorithm bug before raising maxIter)")
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Benchmark decontamination: for every training document, the fraction
    * of each probe (eval-set) document's distinct word n-grams it contains.
    * Pairs at or above `minOverlap` are contaminated and should be dropped
    * before training — the standard n-gram decontamination check of LLM
    * data pipelines.
    *
    * Scale shape: a broadcast-sized probe (the common case — an eval
    * benchmark of thousands of docs) streams the train side through a
    * broadcast nested-loop with an early `size`-filter, nothing shuffles;
    * a probe whose plan stats exceed the session's broadcast threshold
    * routes automatically to [[ngramContaminationLarge]] (shingle
    * equi-join — both sides corpus-scale). Identical output either way. */
  def ngramContamination(
      train: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minOverlap: Double): DataFrame = {
    // > 0 keeps the two physical forms result-identical: the equi-join
    // path can never emit zero-intersection pairs, the broadcast path
    // would at 0 (and a 0 threshold means "flag everything" anyway)
    require(minOverlap > 0, s"minOverlap $minOverlap must be > 0")
    // routing floor: autoBroadcastJoinThreshold = -1 disables Spark's
    // AUTO broadcasts but our explicit broadcast() hint still works, so
    // a disabled threshold must not force tiny probes onto the
    // shuffle-heavy large path — fall back to the 10 MiB default
    val conf = probe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val limit = if (conf > 0) conf else 10L << 20
    val broadcastable =
      probe.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
    if (!broadcastable)
      return ngramContaminationLarge(train, probe, idCol, textCol, n, minOverlap)
    // compiled distinct-shingle kernel (the HOF form is interpreted and was
    // this query's hot-spot at sf0.1)
    val tSh = train.select(col(idCol).as("train_id"),
      Vectors.shinglesFast(n)(col(textCol)).as("sh_t"))
      .where(size(col("sh_t")) > 0)
    val pSh = probe.select(col(idCol).as("probe_id"),
      Vectors.shinglesFast(n)(col(textCol)).as("sh_p"))
      .where(size(col("sh_p")) > 0)
    tSh.crossJoin(broadcast(pSh))
      .withColumn("overlap",
        size(array_intersect(col("sh_t"), col("sh_p"))).cast("double") / size(col("sh_p")))
      .where(col("overlap") >= minOverlap)
      .select(col("train_id"), col("probe_id"), round(col("overlap"), 6).as("overlap"))
  }

  /** Decontamination against a probe set that is ITSELF a corpus (too big
    * to broadcast): both sides explode to distinct (shingle, id) rows and
    * equi-join on the shingle — the [[minhashLsh]] candidate shape, one
    * shuffle on the shingle key instead of a broadcast. The per-pair
    * match count IS |T ∩ P| (shingles are distinct per doc), and |P| joins
    * back from a probe-sized size table. Same output as the broadcast
    * form; common stop-shingles dominate the join fan-out, so prefer the
    * broadcast path whenever the probe fits.
    *
    * The occurrence join runs as a SHUFFLED HASH join (probe side builds),
    * not a sort-merge join: the r14 100× drill measured this kernel's SMJ
    * sort as the suite's single largest spill (939 MB shuffle, 1.7 GB
    * mem-spill) — the sort buys nothing here because the join output feeds
    * a hash aggregation, so sorting both exploded sides is pure overhead.
    * The build side is the PROBE's exploded shingles, hash-partitioned 32+
    * ways — per-partition build state stays executor-sized even when the
    * probe is corpus-scale (and the probe is by construction the smaller
    * side: it failed the broadcast gate, but the train side is the full
    * training corpus).
    *
    * An always-on Bloom pre-pass (route everything through
    * [[ngramContaminationBloom]]) was tried for r15 and REJECTED by
    * measurement: on corpus-vs-corpus decontamination 75% of train
    * shingle occurrences hit the probe set (sf0.1: 167,795 of 223,118 —
    * the probe is a 1/7 split of the same corpus, so most shingles are
    * shared), and the filter's build cost made the 100× drill SLOWER
    * (26.8 → 44.0 s) while cutting shuffle by ~1%. Membership pruning
    * pays only when the probe's shingle domain is small relative to the
    * train corpus — the production eval-benchmark shape — which is
    * exactly what the explicit [[ngramContaminationBloom]] form is for. */
  def ngramContaminationLarge(
      train: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minOverlap: Double): DataFrame = {
    require(minOverlap > 0, s"minOverlap $minOverlap must be > 0")
    val tSh = train.select(col(idCol).as("train_id"),
      explode(Vectors.shinglesFast(n)(col(textCol))).as("sh"))
    val pArr = probe.select(col(idCol).as("probe_id"),
      Vectors.shinglesFast(n)(col(textCol)).as("sh_p"))
      .where(size(col("sh_p")) > 0)
    val pSizes = pArr.select(col("probe_id"), size(col("sh_p")).as("__np"))
    val pSh = pArr.select(col("probe_id"), explode(col("sh_p")).as("sh"))
    tSh.join(pSh.hint("shuffle_hash"), "sh")
      .groupBy(col("train_id"), col("probe_id"))
      .agg(count(lit(1)).as("__ni"))
      .join(pSizes, "probe_id")
      .withColumn("overlap", col("__ni").cast("double") / col("__np"))
      .where(col("overlap") >= minOverlap)
      .select(col("train_id"), col("probe_id"), round(col("overlap"), 6).as("overlap"))
  }

  /** Character n-gram Jaccard over all pairs — the char-level variant of
    * [[tokenJaccardPairs]] (robust to tokenization differences; standard for
    * short/noisy text). O(n²); use MinHash-LSH over char shingles at scale. */
  def charNgramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val grams = udf { (text: String) =>
      if (text.length < n) Array.empty[String]
      else {
        val out = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i <= text.length - n) { out += text.substring(i, i + n); i += 1 }
        out.toArray
      }
    }
    val t = docs.select(col(idCol).as("id"), grams(col(textCol)).as("tok"))
      .where(size(col("tok")) > 0)
    // widen the stream side — same shape and rationale as
    // [[tokenJaccardPairs]] (r18)
    val l = Par.widen(t.select(col("id").as("id_a"), col("tok").as("tok_a")))
    val r = t.select(col("id").as("id_b"), col("tok").as("tok_b"))
    l.crossJoin(r).where(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("tok_a"), col("tok_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("tok_a")) + size(col("tok_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact token-set Jaccard over all pairs of a (small or pre-filtered)
    * document set — the brute-force n-gram-Jaccard baseline the LSH variants
    * approximate. O(n²); use LSH at scale. */
  def tokenJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    val t = docs.select(col(idCol).as("id"),
      array_distinct(Text.tokens(col(textCol))).as("tok"))
    // widen the STREAM side: the doc set is small by contract (O(n²)
    // baseline) so the scan is 1-2 partitions and the broadcast
    // nested-loop join would run every array_intersect on as many cores —
    // the exact single-long-job shape Par.widen exists for (r18, guide
    // §2.3; q170 precedent). The broadcast side stays narrow (it is
    // collected whole either way); rows are unchanged, only the stream
    // partitioning.
    val l = Par.widen(t.select(col("id").as("id_a"), col("tok").as("tok_a")))
    val r = t.select(col("id").as("id_b"), col("tok").as("tok_b"))
    l.crossJoin(r).where(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("tok_a"), col("tok_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("tok_a")) + size(col("tok_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Duplicate-span census — the relational form of exact-substring
    * deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": suffix-array ExactSubstr): every length-`n`
    * token window of every document, keyed by an md5 of its text; a window
    * occurring in >= 2 DISTINCT documents is a duplicate span. Output per
    * doc: window count, duplicate-window count, and a fixed-point (ppm,
    * integer-div — hash-exact) duplicated fraction, the signal used to
    * drop or trim boilerplate-heavy documents.
    *
    * Scale shape: windows never materialize as text off the scan — the
    * projection computes md5(slice) map-side (codegen builtins: slice /
    * concat_ws / md5) — and the span shuffle is CMS-PRUNED like
    * [[graft.functions.Text.heavyHitterTokens]]: pass 1 treeAggregates a
    * model-sized count-min sketch over the span hashes (no shuffle); only
    * spans the sketch counts at >= 2 TOTAL occurrences can possibly occur
    * in >= 2 documents (CMS never underestimates), so only candidates
    * enter the multiplicity agg + join-back — at corpus scale the
    * overwhelmingly-unique span mass never shuffles at all. Per-doc window
    * totals come from a map-side-partial doc agg of the projection. The
    * suffix array of the original is a single-machine construction; this
    * trades its arbitrary-length matches for fixed-n windows to get a
    * plan whose only state is a sketch + a duplicate-span-sized agg. */
  def exactSubstringSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      eps: Double = 1e-4,
      confidence: Double = 0.99): DataFrame = {
    require(n >= 2, s"span window $n must be >= 2")
    // materialize the span table ONCE: three consumers read it (the CMS
    // sketch pass, the per-doc totals, the candidate filter) and each
    // re-derived the md5-of-20-token-slice projection — the dominant
    // per-row cost — from text. (doc_id, h) is ~48 B/row, roughly half
    // the corpus text size: the standard reuse-vs-recompute trade this
    // codebase makes (memory+disk checkpoint blocks, cleaner-released).
    val spans = Par.widen(docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - (n - 1))).as("pos"),
        col("w"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("w"), col("pos"), lit(n)))).as("h")))
      .localCheckpoint(true)
    // pass 1: sketch total span occurrences (narrow; sketch to the driver)
    val cms = spans.stat.countMinSketch("h", eps, confidence, seed = 42)
    val bc = docs.sparkSession.sparkContext.broadcast(cms)
    val isCandidate = udf { (h: String) => bc.value.estimateCount(h) >= 2L }
    val candidates = spans.where(isCandidate(col("h")))
    // per-doc totals: map-side-partial agg, never the raw span shuffle
    val totals = spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
    val dup = candidates.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select(col("h"), lit(1L).as("__dup"))
    val dupPerDoc = candidates.join(dup, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__ndup"))
    totals.join(dupPerDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("__ndup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000L DIV n_windows"))
  }

  /** The large-probe decontamination equi-join with its Bloom-filter
    * pre-pass (the shared implementation behind [[ngramContaminationLarge]];
    * call this form to choose `fpp`) — the membership-pruning
    * decontamination shape for a probe too big to
    * broadcast as data but whose DISTINCT shingle set fits a bit array: a
    * Bloom filter over the probe shingles (one pass, model-sized sketch)
    * filters the exploded train shingles BEFORE the shuffle, so the
    * equi-join moves only shingles that (probably) occur in the probe —
    * at corpus scale that is a tiny fraction of the train side. Bloom
    * filters have NO false negatives, so every true match survives the
    * pre-pass, and false positives simply fail the exact equi-join:
    * output is IDENTICAL to the unfiltered form (hash-verifiable against
    * the same oracle). `fpp` trades bit-array size against leftover
    * shuffle traffic. */
  def ngramContaminationBloom(
      train: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minOverlap: Double,
      fpp: Double = 0.01): DataFrame = {
    require(minOverlap > 0, s"minOverlap $minOverlap must be > 0")
    val pArr = probe.select(col(idCol).as("probe_id"),
      Vectors.shinglesFast(n)(col(textCol)).as("sh_p"))
      .where(size(col("sh_p")) > 0)
      .localCheckpoint(true) // shingled ONCE: sizes, bloom and join reuse it
    val pSizes = pArr.select(col("probe_id"), size(col("sh_p")).as("__np"))
    val pSh = pArr.select(col("probe_id"), explode(col("sh_p")).as("sh"))
    val distinctSh = pSh.select(col("sh")).distinct()
    val bloom = distinctSh.stat.bloomFilter(
      "sh", math.max(distinctSh.count(), 1L), fpp)
    val bc = train.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf { (s: String) => s != null && bc.value.mightContainString(s) }
    val tSh = train.select(col(idCol).as("train_id"),
      explode(Vectors.shinglesFast(n)(col(textCol))).as("sh"))
      .where(mightContain(col("sh")))
    // same shuffled-hash discipline as [[ngramContaminationLarge]]: the
    // join feeds a hash agg, an SMJ sort of the exploded sides is waste
    tSh.join(pSh.hint("shuffle_hash"), "sh")
      .groupBy(col("train_id"), col("probe_id"))
      .agg(count(lit(1)).as("__ni"))
      .join(pSizes, "probe_id")
      .withColumn("overlap", col("__ni").cast("double") / col("__np"))
      .where(col("overlap") >= minOverlap)
      .select(col("train_id"), col("probe_id"), round(col("overlap"), 6).as("overlap"))
  }

  /** Fuzzy entity resolution over a string attribute: pairs of DISTINCT
    * values within Levenshtein distance `maxDist`, weighted by how many
    * rows carry each value. The pairing runs on the distinct-VALUE domain
    * (vocabulary-sized — the BPE-on-the-word-table trick from
    * [[graft.functions.Text]]), never the row domain: a 10¹¹-row table
    * with 10⁵ distinct names pairs 10⁵ values, and the row multiplicities
    * come along as counts.
    *
    * Candidate pruning uses the length bound (lev(a,b) ≤ d ⟹
    * |len a − len b| ≤ d) as the join condition — on the tiny distinct
    * domain Spark picks a broadcast nested-loop, which is the right plan;
    * for a large domain, block on `substring(value, 1, p)` ∪ length bands
    * first. Output: (name_a, name_b, dist, n_pairs) with name_a < name_b,
    * n_pairs = rows(a)·rows(b) — the cross-match volume an entity-merge
    * would touch. */
  def fuzzyBlockedPairs(
      df: DataFrame,
      valueCol: String,
      maxDist: Int): DataFrame = {
    val dom = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // both sides of the pair join
    val a = dom.select(col("v").as("name_a"), col("c").as("ca"))
    val b = dom.select(col("v").as("name_b"), col("c").as("cb"))
    a.join(b,
        col("name_a") < col("name_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        (col("ca") * col("cb")).as("n_pairs"))
  }

  /** Token-set CONTAINMENT pairs — the doc-in-doc detector Jaccard misses:
    * a short document fully quoted inside a long one has tiny Jaccard
    * (union is large) but containment |A∩B| / min(|A|,|B|) ≈ 1. Output:
    * (id_a, id_b, n_a, n_b, inter, cont_ppm) for pairs at cont_ppm ≥
    * threshold — counts and the fixed-point ratio are exact integers
    * (integer DIV), so the result hash-matches a SQL oracle.
    *
    * Unlike the brute-force O(n²) cross of [[tokenJaccardPairs]], pairs
    * come from an INVERTED-INDEX equi-join: explode distinct tokens, drop
    * tokens with document frequency > `maxDf` (a high-df token pairs
    * everything with everything — the candidate blow-up at corpus scale —
    * while every contained doc of ≥ minRareShared tokens still shares a
    * rare one unless it consists entirely of stop-tokens, the documented
    * recall trade), self-join on the token, distinct the candidate id
    * pairs, then verify EXACT containment on the pair's full token arrays
    * (array_intersect, codegen). Shuffles are keyed on token then pair id
    * — never a cartesian. */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      thresholdPpm: Long,
      maxDf: Long = 100L): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
        array_distinct(Text.tokens(col(textCol))).as("tok"))
      .where(size(col("tok")) > 0)
      .localCheckpoint(true) // reused: explode side + both verify sides
    val ex = tok.select(col("id"), explode(col("tok")).as("t"))
    val rare = ex.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .where(col("df").between(2L, maxDf))
      .select(col("t"))
    val rareEx = ex.join(rare, Seq("t"))
    val cand = rareEx.select(col("t"), col("id").as("id_a"))
      .join(rareEx.select(col("t"), col("id").as("id_b")), Seq("t"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(tok.select(col("id").as("id_a"), col("tok").as("__ta")), Seq("id_a"))
      .join(tok.select(col("id").as("id_b"), col("tok").as("__tb")), Seq("id_b"))
      .withColumn("n_a", size(col("__ta")).cast("long"))
      .withColumn("n_b", size(col("__tb")).cast("long"))
      .withColumn("inter",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("cont_ppm",
        expr("inter * 1000000L DIV least(n_a, n_b)"))
      .where(col("cont_ppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("inter"), col("cont_ppm"))
  }

  /** Sorted-neighborhood blocking (Hernández-Stolfo merge/purge) — the
    * windowed complement of [[fuzzyBlockedPairs]]: rank the DISTINCT
    * value domain in lexical order and compare only values within
    * `window` rank positions, so candidates are O(|domain|·window)
    * instead of the length-banded cross — the classic trade when typos
    * rarely change a sort key's prefix (misses pairs differing in the
    * FIRST character; run again on reversed keys to recover those).
    * Output matches fuzzyBlockedPairs: (name_a, name_b, dist, n_pairs)
    * at Levenshtein ≤ maxDist, name_a < name_b (lexical = rank order).
    *
    * The global rank rides the OrderedScan bucket stitch (no global
    * window); neighbor pairing is an EQUI-join on the rank band
    * (band = rank DIV window; the left side fans out to its own and the
    * next band, covering every pair within `window` positions exactly
    * once), then the rank-distance and edit-distance filters run
    * band-locally. */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      valueCol: String,
      window: Int,
      maxDist: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val dom = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c"))
    val ranked = OrderedScan.rowNumber(dom, "v", "r")
      .localCheckpoint(true) // both sides of the band join
    val a = ranked.select(col("v").as("name_a"), col("c").as("ca"),
        col("r").as("ra"),
        explode(array(expr(s"r DIV $window"), expr(s"r DIV $window + 1")))
          .as("__band"))
    val b = ranked.select(col("v").as("name_b"), col("c").as("cb"),
        col("r").as("rb"), expr(s"r DIV $window").as("__band"))
    a.join(b, Seq("__band"))
      .where(col("rb") > col("ra") && col("rb") - col("ra") <= window)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        (col("ca") * col("cb")).as("n_pairs"))
  }
}
