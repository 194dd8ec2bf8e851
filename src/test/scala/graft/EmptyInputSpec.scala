package graft

import org.apache.spark.sql.functions._

import graft.core.{JoinKind, KSeries, Lookup}
import graft.functions.Text
import graft.operators._

/** Every operator must survive EMPTY input (a filter that matches nothing,
  * an empty partition of a larger job) by returning empty — never throwing.
  * The risky spots are driver-side model builds: approxQuantile over zero
  * rows, carry-table collects, broadcast builds. */
class EmptyInputSpec extends SparkSpecBase {

  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptySeries = seriesDf()

  test("dedup family on an empty corpus") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashLsh(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashLshPortable(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.simhash(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.simhashPortable(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.tokenJaccardPairs(emptyDocs, "doc_id", "text", 0.5).count() === 0)
    // the bucket-bound materialization pass (runJob over the lazily
    // checkpoint-marked plan) must tolerate zero rows/partitions
    assert(Dedup.containmentNearDup(emptyDocs, "doc_id", "text",
      maxBucket = Some(1)).count() === 0)
    assert(Dedup.minhashCalibration(emptyDocs, "doc_id", "text").count() === 0)
  }

  test("text analysis on an empty corpus") {
    assert(Text.tfidfTopTerms(emptyDocs, "doc_id", "text", 3).count() === 0)
    assert(Text.redactRareTokens(emptyDocs, "doc_id", "text").count() === 0)
    assert(Text.unigramNll(emptyDocs, "doc_id", "text").count() === 0)
    assert(Text.bigramNll(emptyDocs, "doc_id", "text").count() === 0)
    assert(Text.chunkTokens(emptyDocs, "doc_id", "text", 64, 16).count() === 0)
    val emptyLabeled = Seq.empty[(String, String)].toDF("lang", "text")
    assert(Text.tokenizerFertility(emptyLabeled, "lang", "text").count() === 0)
    val emptyVals = Seq.empty[(String, Long)].toDF("s", "v")
    assert(Text.psiByBucket(emptyVals, "s", "v", 64L).count() === 0)
  }

  test("sampling and packing on empty input") {
    assert(Sampling.deterministic(emptyDocs, "doc_id", 0.5).count() === 0)
    assert(Sampling.capPerGroup(emptyDocs, "text", Seq(col("doc_id")), 5).count() === 0)
    assert(Sampling.filterByGroupQuantiles(
      Seq.empty[(String, Int)].toDF("g", "v"), "g", "v", 0.1, 0.9).count() === 0)
    val emptyTok = Seq.empty[(Long, Long)].toDF("doc_id", "n_tok")
    assert(Packing.packByTokens(emptyTok, "doc_id", "n_tok", 4096).count() === 0)
  }

  test("ordered scans on an empty series (approxQuantile/carry-table builds)") {
    assert(OrderedScan.forwardFill(emptySeries, "k", Seq("v")).count() === 0)
    assert(OrderedScan.runningSum(emptySeries.where(col("v").isNotNull), "k", "v", "cum").count() === 0)
    assert(OrderedScan.rowNumber(emptySeries, "k", "ord").count() === 0)
    assert(OrderedScan.ewma(emptySeries, "k", "v", 0.3, "y").count() === 0)
    assert(OrderedScan.ewmaByGroup(
      Seq.empty[(Long, Long, Double)].toDF("g", "k", "v"), "g", "k", "v", 0.3, "y").count() === 0)
  }

  test("series ops on an empty ordered series") {
    val s = KSeries(emptySeries, ordered = true)
    assert(s.shift(1).df.count() === 0)
    assert(s.diff(1).df.count() === 0)
    assert(s.fillForward().df.count() === 0)
    val other = KSeries(seriesDf((1L, 1.0)), ordered = true)
    assert(s.zipAlign(other, JoinKind.Left, Lookup.NearestSmaller)(_ + _).df.count() === 0)
    assert(other.zipAlign(s, JoinKind.Left, Lookup.NearestSmaller)(_ + _).df.count() === 1)
  }

  test("range join with empty sides") {
    val pts = Seq((1L, 5L)).toDF("pid", "t")
    val ivs = Seq((1L, 0L, 10L)).toDF("iid", "s", "e")
    val noPts = Seq.empty[(Long, Long)].toDF("pid", "t")
    val noIvs = Seq.empty[(Long, Long, Long)].toDF("iid", "s", "e")
    assert(RangeJoin.pointInInterval(noPts, "t", ivs, "s", "e", 10).count() === 0)
    assert(RangeJoin.pointInInterval(pts, "t", noIvs, "s", "e", 10).count() === 0)
  }

  test("components on an empty edge set") {
    assert(Dedup.components(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() === 0)
  }

  test("componentsIncremental with empty sides") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster")
    // no new pairs: labels pass through unchanged
    val same = Dedup.componentsIncremental(labels, empty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(same === Map(1L -> 1L, 2L -> 1L))
    // no prior labels: equals plain components on the new pairs
    val emptyLabels = Seq.empty[(Long, Long)].toDF("id", "cluster")
    val fresh = Dedup.componentsIncremental(emptyLabels, Seq((5L, 6L)).toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fresh === Map(5L -> 5L, 6L -> 5L))
  }

  test("LSH index probe with an empty incoming batch") {
    val corpus = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
      .toDF("doc_id", "text")
    Dedup.publishLshIndex(corpus, "doc_id", "text", "graft_lshspec_empty", buckets = 2)
    assert(Dedup.probeLshIndex(spark, emptyDocs, "doc_id", "text", "graft_lshspec_empty")
      .count() === 0)
  }

  test("LSH index APPEND of an empty batch is a fingerprint-only no-op") {
    val corpus = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
      .toDF("doc_id", "text")
    Dedup.publishLshIndex(corpus, "doc_id", "text", "graft_lshspec_eapp", buckets = 2,
      corpusFp = "v1")
    // every stored band row, committed or not
    def stored = Dedup.describeLshIndex(spark, "graft_lshspec_eapp")
      .where(col("table") === "graft_lshspec_eapp_buckets")
      .select(col("rows_committed") + col("rows_orphan")).head().getLong(0)
    val before = stored
    Dedup.appendLshIndex(emptyDocs, "doc_id", "text", "graft_lshspec_eapp",
      newCorpusFp = "v2")
    assert(stored === before)
    // probe under the bumped fingerprint still works (quiet ingest tick)
    assert(Dedup.probeLshIndex(spark,
      Seq((9L, "a b c d e f g")).toDF("doc_id", "text"),
      "doc_id", "text", "graft_lshspec_eapp", corpusFp = "v2").count() >= 1)
  }

  test("IVF index APPEND of an empty batch is a fingerprint-only no-op") {
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 24L).map(i => (i, Seq.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    operators.Similarity.publishIvfIndex(vecs, "vec_id", "embedding",
      "graft_ivfspec_eapp", trainRows = 16, nlist = 2, buckets = 2, corpusFp = "v1")
    def stored = operators.Similarity.describeIvfIndex(spark, "graft_ivfspec_eapp")
      .select(col("rows_committed") + col("rows_orphan")).head().getLong(0)
    val before = stored
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    operators.Similarity.appendIvfIndex(emptyVecs, "vec_id", "embedding",
      "graft_ivfspec_eapp", newCorpusFp = "v2")
    assert(stored === before)
    assert(operators.Similarity.probeIvfIndex(spark, vecs.where(col("vec_id") < 2),
      "vec_id", "embedding", "graft_ivfspec_eapp", k = 2, corpusFp = "v2").count() >= 1)
  }

  test("containment and diversity on empty/trivial input") {
    assert(Dedup.containmentNearDup(emptyDocs, "doc_id", "text").count() === 0)
    assert(graft.functions.Text.distinctNgramDiversity(
      Seq.empty[(String, String)].toDF("source", "text"), "source", "text").count() === 0)
    // a one-word doc has no bigrams: distinct2_ppm reports the -1 sentinel
    val one = graft.functions.Text.distinctNgramDiversity(
      Seq(("s", "hello")).toDF("source", "text"), "source", "text").head()
    assert(one.getLong(one.fieldIndex("n2_total")) === 0L)
    assert(one.getLong(one.fieldIndex("distinct2_ppm")) === -1L)
    // full containment both directions for an exact duplicate pair
    val dup = Dedup.containmentNearDup(
      Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dup === Set((1L, 2L, 1000000L), (2L, 1L, 1000000L)))
  }

  test("round-7 curation ops on empty input (seed collects, stitches, graph ladders)") {
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Dedup.semanticDedup(emptyVecs, "vec_id", "embedding").count() === 0)
    assert(Dedup.semanticDedupDelta(emptyVecs, emptyVecs, "vec_id", "embedding").count() === 0)
    val emptyParas = Seq.empty[(Long, Seq[String])].toDF("doc_id", "paras")
    assert(Dedup.paragraphDedup(emptyParas, "doc_id", col("paras")).count() === 0)
    assert(Dedup.contaminationAttribution(
      emptyDocs, emptyDocs.withColumn("label", lit("a")),
      "doc_id", "text", "label").count() === 0)
    assert(Text.vocabCoverage(emptyDocs, "text", 10).count() === 0)
    assert(Text.pmiBigrams(emptyDocs, "text", 1L, 10).count() === 0)
    assert(Text.textRankTerms(emptyDocs, "text").count() === 0)
    assert(Text.naiveBayesPredict(
      emptyDocs.withColumn("source", lit("s")), emptyDocs,
      "doc_id", "text", "source").count() === 0)
    val emptyTok = Seq.empty[(Long, Long)].toDF("doc_id", "n_tok")
    assert(Packing.sequenceIndex(emptyTok, "doc_id", "n_tok", 128).count() === 0)
    assert(Sampling.shardAssign(emptyDocs, "doc_id", 4).count() === 0)
    assert(Sampling.epochSample(emptyDocs, "doc_id", 0, 0.5).count() === 0)
    assert(Sampling.winsorizeByGroup(
      Seq.empty[(String, Double)].toDF("g", "v"), "g", "v", 0.1, 0.9, "w").count() === 0)
    assert(Skew.saltedAgg(emptyDocs, "text",
      Seq("n" -> ("count", "")), 4).count() === 0)
    assert(OrderedScan.runningStats(
      emptySeries.where(col("v").isNotNull), "k", "rn", "v", "cum", "mn", "mx")
      .count() === 0)
  }

  test("split / mixing / sketch ops on empty or degenerate input") {
    import graft.functions.Sketches
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    // empty pair graph: every doc is a singleton, split = own-md5 side
    val docs = (0L until 50L).toDF("doc_id")
    val r = Sampling.leakageSafeSplit(docs, "doc_id", emptyPairs, 0.25)
    assert(r.count() === 50)
    assert(r.where(col("rep_id") =!= col("doc_id")).count() === 0)
    // fully empty corpus AND empty pairs
    assert(Sampling.leakageSafeSplit(emptyDocs.select("doc_id"), "doc_id",
      emptyPairs, 0.25).count() === 0)
    // water-fill: empty counts → empty; single source → min(amount, budget)
    val emptyCounts = Seq.empty[(String, Long)].toDF("src", "amt")
    assert(Sampling.waterFillBudget(emptyCounts, "src", "amt", 1, 2).count() === 0)
    val one = Seq(("only", 100L)).toDF("src", "amt")
    val oneOut = Sampling.waterFillBudget(one, "src", "amt", 1, 2, buckets = 2)
      .collect().map(x => (x.getString(0), x.getAs[Long]("alloc")))
    assert(oneOut.toSeq === Seq(("only", 50L)))
    // HLL census: empty input → empty output (no sketch of nothing)
    val emptyTok = Seq.empty[(String, String, Long)].toDF("g", "v", "shard")
    assert(Sketches.distinctCensusHll(emptyTok, "g", "v", col("shard")).count() === 0)
  }

  test("portable ANN ops drop null / wrong-dimension vectors instead of aborting") {
    val good: Seq[(Long, Seq[Float])] =
      (0L until 20L).map(i => (i, Seq.tabulate(8)(d => (i * 3 + d).toFloat / 10f)))
    val bad: Seq[(Long, Seq[Float])] = Seq((98L, Seq(1f)), (99L, null))
    val df = (good ++ bad).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 2)
    val ivf = Similarity.ivfKnnPortable(df, q, "vec_id", "embedding",
      k = 2, nlist = 4, nprobe = 2, rounds = 1)
    assert(ivf.count() > 0)
    assert(!ivf.select("neighbor_id").collect().map(_.getLong(0)).exists(id => id >= 98))
    val pq = Similarity.pqKnnPortable(df, q, "vec_id", "embedding",
      k = 2, m = 2, codes = 4, rounds = 1)
    assert(pq.count() > 0)
    assert(!pq.select("neighbor_id").collect().map(_.getLong(0)).exists(id => id >= 98))
  }
}
