package graft

import org.apache.spark.sql.functions._

import graft.functions.{Text, Vectors => V}
import graft.operators.{Dedup, Similarity}

/** LLM-pipeline operators: text analysis, dedup families, similarity. */
class PipelineSpec extends SparkSpecBase {

  import spark.implicits._

  test("null text is inert across the text family (no NPE, no phantom rows)") {
    val docs = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // Column expressions propagate null; explode of a null array drops the row
    val tok = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .collect().map(_.getLong(0)).toSet
    assert(tok === Set(1L))
    assert(docs.select(Text.fingerprint(col("text"))).collect()(1).isNullAt(0))
    // the chunk kernel treats null as empty text (one empty chunk)
    val chunks = Text.chunkTokens(docs, "doc_id", "text", 4, 0)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(chunks.toSet === Set((1L, "alpha beta"), (2L, "")))
    // corpus ops ignore the null row entirely
    assert(Text.vocabCoverage(docs, "text", 10)
      .collect().map(_.getAs[String]("term")).toSet === Set("alpha", "beta"))
    assert(Text.pmiBigrams(docs, "text", 1L, 10).count() === 1) // alpha->beta only
  }

  test("tokenCount / tokens edge cases") {
    val df = Seq("a b c", "  x  ", "", "solo").toDF("t")
      .select(Text.tokenCount(col("t")).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(3, 1, 0, 1))
  }

  test("shingles produce n-grams; short docs yield empty") {
    val r = Seq("a b c d", "a b").toDF("t")
      .select(Text.shingles(col("t"), 3).as("s")).collect()
    assert(r(0).getSeq[String](0) === Seq("a b c", "b c d"))
    assert(r(1).getSeq[String](0) === Seq.empty)
  }

  test("fingerprint normalizes case and punctuation") {
    val r = Seq(("Hello, World!", "hello world"), ("abc", "xyz"))
      .toDF("a", "b")
      .select(
        (Text.fingerprint(col("a")) === Text.fingerprint(col("b"))).as("same"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(r === Seq(true, false))
  }

  test("langId picks the dominant stopword language") {
    val r = Seq(
      "the cat is one of the best and the rest",
      "der hund ist gut und das ist der wagen",
      "el perro es de la casa y es bueno").toDF("t")
      .select(Text.langId(col("t")).as("l")).collect().map(_.getString(0)).toSeq
    assert(r === Seq("en", "de", "es"))
  }

  test("exact dedup groups identical normalized docs") {
    val docs = Seq((1L, "Hello World"), (2L, "hello, world!"), (3L, "other"))
      .toDF("doc_id", "text")
    val r = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(r.map(x => (x.getLong(1), x.getLong(2))).toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds a known near-duplicate pair") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val distinct = (100 to 140).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinct)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("lsh band-bucket cap drops oversize buckets, keeps small-bucket pairs") {
    // 12 identical docs share every band key → one size-12 bucket per band;
    // the separate identical pair sits in size-2 buckets in every band
    val hot = (0L until 12L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    val pair = Seq((100L, "one two three four five six seven"),
      (101L, "one two three four five six seven"))
    val docs = (hot ++ pair).toDF("doc_id", "text")
    val key = "spark.graft.lsh.maxBucket"
    spark.conf.set(key, "5")
    try {
      val capped = Dedup.minhashLshPortable(docs, "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(capped === Set((100L, 101L)))
      val cont = Dedup.containmentNearDup(docs, "doc_id", "text")
        .select("contained_id").collect().map(_.getLong(0)).toSet
      assert(cont === Set(100L, 101L))
    } finally spark.conf.set(key, "10000")
    // default cap (10000): the hot bucket is under it, all pairs return
    val full = Dedup.minhashLshPortable(docs, "doc_id", "text", threshold = 0.5).count()
    assert(full === 12L * 11 / 2 + 1)
  }

  test("simhash: identical docs at hamming 0; disjoint docs filtered") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val r = Dedup.simhash(docs, "doc_id", "text", maxHamming = 3).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq === Seq((1L, 2L, 0)))
  }

  test("vector math: dot / l2 / cosine") {
    val df = Seq((Seq(3.0f, 4.0f), Seq(4.0f, 3.0f))).toDF("a", "b")
    val r = df.select(
      V.dot(col("a"), col("b")).as("dot"),
      V.l2Norm(col("a")).as("l2"),
      round(V.cosine(col("a"), col("a")), 9).as("self")).head
    assert(r.getDouble(0) === 24.0)
    assert(r.getDouble(1) === 5.0)
    assert(r.getDouble(2) === 1.0)
  }

  test("brute-force knn ranks by cosine") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceKnn(vecs, vecs.where(col("vec_id") === 1), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(r.map(_.getLong(2)).toSeq === Seq(2L, 3L))
  }

  test("jaccard pairs: exact threshold filter") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b x y")).toDF("doc_id", "text")
    val r = Dedup.tokenJaccardPairs(docs, "doc_id", "text", 0.99)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r === Set((1L, 2L)))
  }

  test("PQ ANN: reasonable recall vs brute force on clustered vectors") {
    val vecs = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        (if (d / 4 == c) 1.0f else 0.05f) + (i % 13) * 0.01f))
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 3)
    def topk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val brute = topk(Similarity.bruteForceKnn(vecs, q, "vec_id", "embedding", 5))
    val pq = topk(Similarity.pqKnn(vecs, q, "vec_id", "embedding", k = 5,
      m = 4, kCentroids = 8, iters = 2))
    // quantization collapses cluster members to near-identical codes, so
    // exact top-5 membership is tie-broken differently than brute force —
    // the ANN guarantee is CLUSTER correctness: every PQ neighbor must be
    // in the query's cluster, as every brute-force neighbor is
    brute.foreach { case (qid, ns) => assert(ns.forall(_ % 4 == qid % 4)) }
    pq.foreach { case (qid, ns) =>
      assert(ns.forall(_ % 4 == qid % 4),
        s"PQ neighbors of $qid leave its cluster: $ns")
    }
  }

  test("IVF+PQ ANN: neighbors stay cluster-exact on separable vectors") {
    val vecs = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        (if (d / 4 == c) 1.0f else 0.05f) + (i % 13) * 0.01f))
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 3)
    val got = Similarity.ivfPqKnn(vecs, q, "vec_id", "embedding", k = 5,
      nlist = 4, nprobe = 2, m = 4, kCentroids = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    assert(got.nonEmpty)
    got.foreach { case (qid, ns) =>
      assert(ns.nonEmpty && ns.forall(_ % 4 == qid % 4),
        s"IVF+PQ neighbors of $qid leave its cluster: $ns")
    }
  }

  test("deterministic sampler: membership stable under corpus growth, rate ≈ fraction") {
    import graft.operators.Sampling
    val small = (0L until 2000L).toDF("id")
    val big = (0L until 10000L).toDF("id")
    def kept(df: org.apache.spark.sql.DataFrame) =
      Sampling.deterministic(df, "id", 0.25).collect().map(_.getLong(0)).toSet
    val (ks, kb) = (kept(small), kept(big))
    // a row's membership never changes as the corpus grows (incremental runs)
    assert(ks === kb.filter(_ < 2000L))
    // rate within a few points of the target
    assert(math.abs(kb.size / 10000.0 - 0.25) < 0.03, s"rate ${kb.size / 10000.0}")
  }

  test("temperatureMix flattens the source distribution as T grows") {
    import graft.operators.Sampling
    // skewed corpus: a=8000, b=1500, c=500
    val rows = (0L until 8000L).map((_, "a")) ++
      (8000L until 9500L).map((_, "b")) ++ (9500L until 10000L).map((_, "c"))
    val df = rows.toDF("id", "src")
    def shares(t: Double): Map[String, Double] = {
      val kept = Sampling.temperatureMix(df, "id", "src", t, targetFraction = 0.3)
        .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = kept.values.sum.toDouble
      kept.map { case (k, v) => k -> v / n }
    }
    val prop = shares(1.0)   // T=1: proportional to input
    val flat = shares(50.0)  // T→∞: near-uniform
    assert(math.abs(prop("a") - 0.8) < 0.05, s"T=1 share a: $prop")
    assert(flat("a") < 0.5 && flat("c") > 0.15, s"T=50 shares: $flat")
  }

  test("capPerGroup keeps exactly min(cap, |group|) rows, chosen by the order spec") {
    import graft.operators.Sampling
    val df = (0L until 100L).map(i => (s"s${i % 4}", i, (i * 37 % 100).toInt))
      .toDF("src", "id", "sz")
    val got = Sampling.capPerGroup(df, "src", Seq(col("sz").desc, col("id").asc), cap = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.size === 20)
    // per group: exactly the 5 largest sz (id tiebreak)
    val rows = (0L until 100L).map(i => (s"s${i % 4}", i, (i * 37 % 100).toInt))
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val want = rs.sortBy(r => (-r._3, r._2)).take(5).map(r => (g, r._2)).toSet
      assert(got.filter(_._1 == g) === want, s"group $g")
    }
    // a group smaller than the cap survives whole
    val tiny = Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 3L, 3)).toDF("src", "id", "sz")
    assert(Sampling.capPerGroup(tiny, "src", Seq(col("id").asc), 5).count() === 3)
  }

  test("filterByGroupQuantiles trims per-group outliers against a brute-force oracle") {
    import graft.operators.Sampling
    val rows = for (g <- 0 until 3; i <- 0 until 200) yield (s"g$g", (i * 13 + g * 7) % 500)
    val df = rows.toDF("src", "v")
    val got = Sampling.filterByGroupQuantiles(df, "src", "v", 0.1, 0.9)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val byG = rows.groupBy(_._1)
    def pct(sorted: IndexedSeq[Int], p: Double): Double = {
      val idx = p * (sorted.length - 1)
      val lo = math.floor(idx).toInt; val hi = math.ceil(idx).toInt
      sorted(lo) + (idx - lo) * (sorted(hi) - sorted(lo))
    }
    val want = byG.toSeq.flatMap { case (g, rs) =>
      val s = rs.map(_._2).sorted.toIndexedSeq
      val (qlo, qhi) = (pct(s, 0.1), pct(s, 0.9))
      rs.filter(r => r._2 >= qlo && r._2 <= qhi).map(r => (g, r._2))
    }
    assert(got.sorted.toSeq === want.sorted)
    assert(got.length < rows.length, "must actually trim something")
  }

  test("tfidfTopTerms: rarer term outranks frequent common term") {
    import graft.functions.Text
    val docs = Seq(
      (1L, "apple apple apple zebra"),
      (2L, "apple banana banana"),
      (3L, "apple cherry")).toDF("doc_id", "text")
    val got = Text.tfidfTopTerms(docs, "doc_id", "text", 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(2))).toMap
    // 'apple' appears in every doc → idf = ln(4/4) = 0 → never rank 1
    assert(!got.collect { case ((_, 1L), term) => term }.toSet.contains("apple"))
    // doc 1's top term is its unique 'zebra'
    assert(got((1L, 1L)) === "zebra")
    assert(got((2L, 1L)) === "banana")
    assert(got((3L, 1L)) === "cherry")
  }

  test("weightedPriority: huge weights always sampled, zero weights never, deterministic") {
    import graft.operators.Sampling
    val df = ((0L until 200L).map(i => (i, 10)) ++
      Seq((900L, 1000000000), (901L, 0), (902L, -5))).toDF("id", "w")
    val got = Sampling.weightedPriority(df, "id", "w", k = 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.size === 50)
    // w=1e9 ⇒ priority u^(1e-9) ≈ 1 beats every u^(1/10) — always in
    assert(got.contains(900L))
    // non-positive weights are excluded outright
    assert(!got.contains(901L) && !got.contains(902L))
    // deterministic: same input, same sample
    val again = Sampling.weightedPriority(df, "id", "w", k = 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again === got)
  }

  test("unigramNll: fixed-point corpus-LM surprise matches hand computation") {
    import graft.functions.Text
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = Text.unigramNll(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // N=5: p(a)=3/5, p(b)=p(c)=1/5; micro-nat rounding then exact long sums
    val nllA = math.round(-math.log(3.0 / 5) * 1e6)
    val nllB = math.round(-math.log(1.0 / 5) * 1e6)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) === ((3L, r4((2 * nllA + nllB) / 1e6 / 3))))
    assert(got(2L) === ((2L, r4((nllA + nllB) / 1e6 / 2))))
  }

  test("redactRareTokens masks only rare tokens and reassembles text in order") {
    import graft.functions.Text
    val docs = Seq(
      (1L, "the cat sat zzqx"),
      (2L, "the dog sat"),
      (3L, "the cat ran")).toDF("doc_id", "text")
    // df: the=3, cat=2, sat=2, dog=1, ran=1, zzqx=1 → rare (df<=1): dog ran zzqx
    val got = Text.redactRareTokens(docs, "doc_id", "text", maxDocFreq = 1, mask = "<X>")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) === ((1L, md5hex("the cat sat <X>"))))
    assert(got(2L) === ((1L, md5hex("the <X> sat"))))
    assert(got(3L) === ((1L, md5hex("the cat <X>"))))
  }

  test("packByTokens: contiguous bins, budget-crossing doc stays in earlier bin") {
    import graft.operators.Packing
    val d = Seq((1L, 50), (2L, 40), (3L, 30), (4L, 100), (5L, 10)).toDF("doc_id", "n_tok")
    val bins = Packing.packByTokens(d, "doc_id", "n_tok", targetTokens = 100, buckets = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // prefix-exclusive sums: 0,50,90,120,220 → bins 0,0,0,1,2
    assert(bins === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L))
  }

  test("chunkTokens: coverage + overlap invariants") {
    import graft.functions.{Text => T}
    val doc = (1 to 150).map(i => s"t$i").mkString(" ")
    val chunks = T.chunkTokens(Seq((1L, doc)).toDF("doc_id", "text"),
      "doc_id", "text", maxTokens = 64, overlap = 16)
      .orderBy("chunk_idx").collect().map(_.getString(2).split(" ").toSeq)
    // stride 48 over 150 tokens → chunks at 0, 48, 96 (length 64, 64, 54)
    assert(chunks.map(_.length).toSeq === Seq(64, 64, 54))
    // consecutive chunks share exactly `overlap` tokens
    assert(chunks(0).takeRight(16) === chunks(1).take(16))
    assert(chunks(1).takeRight(16) === chunks(2).take(16))
    // every token covered in order
    assert(chunks(0) ++ chunks(1).drop(16) ++ chunks(2).drop(16)
      === (1 to 150).map(i => s"t$i"))
    // short doc stays one chunk
    val one = T.chunkTokens(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", 64, 16).collect()
    assert(one.length === 1 && one.head.getString(2) === "a b c")
  }

  test("grid-bucketed interval join equals the naive range-predicate join") {
    import graft.operators.RangeJoin
    val pts = (0L until 500L).map(i => (i, i * 7 % 1000)).toDF("pid", "t")
    val ivs = (0L until 40L).map(i => (i, i * 25, i * 25 + (i % 5) * 30))
      .toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(pts, "t", ivs, "s", "e", cellWidth = 50)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pts.join(ivs, col("t") >= col("s") && col("t") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(got === naive)
  }

  test("grid-bucketed interval join: fractional bounds, boundary ends, negatives") {
    import graft.operators.RangeJoin
    // the old cast("long") truncation dropped point 20.3 from [5.0, 20.5) —
    // the interval's cell fan-out stopped at floor((20-1)/10)=1 while the
    // point lives in cell 2. Cover fractional points/ends, ends exactly on a
    // cell boundary, and negative coordinates (truncation != floor there).
    val pts = Seq.tabulate(600)(i => (i.toLong, -30.0 + i * 0.1))
      .toDF("pid", "t")
    val ivs = Seq(
      (0L, 5.0, 20.5), (1L, -25.3, -10.0), (2L, -10.0, 0.0),
      (3L, 19.9, 20.1), (4L, 10.0, 30.0), (5L, 7.0, 7.0) // degenerate
    ).toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(pts, "t", ivs, "s", "e", cellWidth = 10)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pts.join(ivs, col("t") >= col("s") && col("t") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(got === naive)
    // the specific regression: 20.3 ∈ [5.0, 20.5)
    val p203 = pts.where(abs(col("t") - 20.3) < 1e-9).select("pid").head.getLong(0)
    assert(got.contains((p203, 0L)))
  }

  test("components: min-label propagation across chains and disjoint clusters") {
    val pairs = Seq((3L, 4L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val r = Dedup.components(pairs).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    // the 1-2-3-4 chain needs multiple propagation rounds to reach label 1
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components: pointer jumping closes a 100-link chain within the default round budget") {
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val r = Dedup.components(chain).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.length === 101)
    assert(r.forall(_._2 === 0L), "every chain node must reach label 0")
  }

  test("ngramContamination: exact substring doc flagged, disjoint doc not") {
    val train = Seq((10L, "x y z w q"), (11L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val probe = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    val r = Dedup.ngramContamination(train, probe, "doc_id", "text", n = 3, minOverlap = 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.toSeq === Seq((11L, 1L, 1.0)))
  }

  test("heavy hitters: CMS pruning + exact verify equals the brute-force answer") {
    // skewed corpus: token "hot<i>" appears i times, plus 2000 singletons
    val docs = ((1 to 30).flatMap(i => Seq.fill(i)(s"hot$i")) ++
      (0 until 2000).map(i => s"rare$i"))
      .grouped(37).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = rows(Text.heavyHitterTokens(docs, "doc_id", "text", minCount = 10L))
    val brute = rows(docs
      .select(explode(Text.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .where(col("n") >= 10))
    assert(got === brute)
    assert(got.size === 21) // hot10..hot30
  }

  test("large-probe decontamination: equi-join path matches the broadcast form and auto-routes") {
    val docs = (0L until 40L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta token$i"
      (i, if (i % 2 == 0) base else base + s" extra words w${i % 5}")
    }.toDF("doc_id", "text")
    val train = docs.where(col("doc_id") % 2 === 1)
    val probe = docs.where(col("doc_id") % 2 === 0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bcast = rows(Dedup.ngramContamination(train, probe, "doc_id", "text", 3, 0.3))
    val large = rows(Dedup.ngramContaminationLarge(train, probe, "doc_id", "text", 3, 0.3))
    assert(bcast.nonEmpty)
    assert(large === bcast)
    // dispatcher: with a 1-byte broadcast threshold the probe is "too big" —
    // the plan must be the shingle equi-join, not a broadcast nested-loop
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val routed = Dedup.ngramContamination(train, probe, "doc_id", "text", 3, 0.3)
      assert(!routed.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "large probe still took the broadcast nested-loop path")
      assert(rows(routed) === bcast)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("exactSubstringSpans: shared 20-token run flagged in both docs, unique docs at 0") {
    val run = (0 until 25).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, run + " tail1 a b c"),            // shares the 25-token run with doc 2
      (2L, "head x y " + run),
      (3L, (0 until 40).map(i => s"u$i").mkString(" ")), // all-unique windows
      (4L, "too short")                       // < n tokens: no windows at all
    ).toDF("doc_id", "text")
    val r = Dedup.exactSubstringSpans(docs, "doc_id", "text", n = 20)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // doc1: 29 tokens → 10 windows, 6 of them (positions 1..6 inside the run) shared
    assert(r(1L)._1 === 10L && r(1L)._2 === 6L)
    assert(r(2L)._2 === 6L)
    assert(r(3L) === ((21L, 0L, 0L)))
    assert(!r.contains(4L))
    assert(r(1L)._3 === 600000L) // 6/10 in exact ppm
  }

  test("gopherQualityFlags: rules gate on length, mean word length and stop hits") {
    val docs = Seq(
      (1L, (("value table " * 30) + "end").trim), // 61 words, stop hits 60 → pass
      (2L, "short value table doc"),              // 4 words → fail (too short)
      (3L, ("a " * 60).trim)                      // 60 words, mean len 1 < 3 → fail
    ).toDF("doc_id", "text")
    val r = Text.gopherQualityFlags(docs, "doc_id", "text")
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(3), x.getLong(4)))).toMap
    assert(r(1L) === ((61L, 60L, 1L)))
    assert(r(2L)._3 === 0L)
    assert(r(3L) === ((60L, 0L, 0L)))
    // no shuffle: the whole thing is one projection over the scan
    val plan = Text.gopherQualityFlags(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopher flags should not shuffle:\n$plan")
  }

  test("scrubPii masks emails, IPs and phones; counts match; clean text untouched") {
    val docs = Seq(
      (1L, "reach me at jane.doe+x@corp.example.org or +14155551234 host 192.168.0.1"),
      (2L, "no pii here just words")
    ).toDF("doc_id", "text")
    val r = Text.scrubPii(docs, "doc_id", "text").collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) === ((1L, 1L, 1L)))
    assert(r(2L) === ((0L, 0L, 0L)))
    // the masked text really replaces each match
    val red = Seq((1L, "a jane@x.io b 10.0.0.1 c +123456789"))
      .toDF("doc_id", "text")
      .select(regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit(Text.piiEmail), lit("<EMAIL>")), lit(Text.piiIpv4), lit("<IP>")),
        lit(Text.piiPhone), lit("<PHONE>"))).collect()(0).getString(0)
    assert(red === "a <EMAIL> b <IP> c <PHONE>")
  }

  test("bloom-prefiltered decontamination equals the unfiltered form and prunes the train side") {
    val docs = (0L until 60L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta token$i"
      (i, if (i % 2 == 0) base else base + s" extra words w${i % 5}")
    }.toDF("doc_id", "text")
    val train = docs.where(col("doc_id") % 2 === 1)
    val probe = docs.where(col("doc_id") % 2 === 0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = rows(Dedup.ngramContaminationLarge(train, probe, "doc_id", "text", 3, 0.3))
    val bloom = rows(Dedup.ngramContaminationBloom(train, probe, "doc_id", "text", 3, 0.3))
    assert(plain.nonEmpty)
    assert(bloom === plain)
    // no false negatives by construction; and on disjoint vocab the filter
    // really prunes: nothing survives to shuffle, output empty
    val disjointTrain = Seq((100L, "qq ww ee rr tt yy uu ii")).toDF("doc_id", "text")
    assert(rows(Dedup.ngramContaminationBloom(
      disjointTrain, probe, "doc_id", "text", 3, 0.3)).isEmpty)
  }

  test("bm25TopTerms: rare discriminative term outranks ubiquitous term") {
    val docs = Seq(
      (1L, "common common common zebra"),
      (2L, "common common filler filler"),
      (3L, "common filler other words")).toDF("doc_id", "text")
    val r = Text.bm25TopTerms(docs, "doc_id", "text", kTop = 2)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getString(2))).toMap
    // 'common' is in every doc (idf floor); 'zebra' df=1 dominates doc 1
    assert(r((1L, 1L)) === "zebra")
    // and scores are monotone in rank (rank 1 >= rank 2 for every doc)
    val scores = Text.bm25TopTerms(docs, "doc_id", "text", kTop = 2)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(3))).toMap
    for (d <- 1L to 3L) assert(scores((d, 1L)) >= scores((d, 2L)))
  }

  test("bm25Search: exact-match doc ranks first; disjoint query returns nothing") {
    val docs = Seq(
      (1L, "spark catalyst optimizer rules"),
      (2L, "spark shuffle partitions config"),
      (3L, "duckdb vectorized execution engine")).toDF("doc_id", "text")
    val queries = Seq(
      (100L, "catalyst optimizer"),
      (200L, "nothing matches here")).toDF("query_id", "qtext")
    val r = Text.bm25Search(docs, "doc_id", "text", queries, "query_id", "qtext", kTop = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // query 100: doc 1 holds both query terms → rank 1; no other doc has any
    assert(r === Seq((100L, 1L, 1L)))
  }

  test("invertedIndex: ascending postings, df threshold, within-doc dups collapse") {
    val docs = Seq(
      (30L, "apple banana apple"),
      (10L, "banana cherry"),
      (20L, "banana date")).toDF("doc_id", "text")
    val r = Text.invertedIndex(docs, "doc_id", "text", minDf = 2L)
      .collect().map(x => (x.getString(0), (x.getLong(1), x.getString(2)))).toMap
    assert(r === Map("banana" -> ((3L, "10,20,30"))))
    // minDf=1 keeps the singletons, and apple's double occurrence is ONE posting
    val all = Text.invertedIndex(docs, "doc_id", "text", minDf = 1L)
      .collect().map(x => (x.getString(0), x.getString(2))).toMap
    assert(all("apple") === "30")
    assert(all("cherry") === "10")
  }

  test("minhashLshDelta: incoming near-dup of corpus flagged; fresh doc silent") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different corpus text about spark plans")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
      (11L, "unrelated fresh incoming document body entirely new")).toDF("doc_id", "text")
    val r = Dedup.minhashLshDelta(corpus, incoming, "doc_id", "text", threshold = 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r === Set((10L, 1L)))
  }

  test("exactDelta: corpus collisions dropped, batch-internal dups collapse to min id") {
    val corpus = Seq((1L, "Alpha, Beta!"), (2L, "gamma delta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta"),      // normalizes to a corpus fingerprint: dropped
      (11L, "epsilon zeta"),    // fresh: kept
      (12L, "EPSILON zeta!!"),  // dup of 11 within the batch: collapses
      (13L, "eta theta")        // fresh: kept
    ).toDF("doc_id", "text")
    val out = Dedup.exactDelta(corpus, incoming, "doc_id", "text")
    val kept = out.collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L, 13L))
    assert(out.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "corpus exclusion should plan as a left anti join")
  }

  test("covarianceMatrix: sufficient statistics match hand computation; malformed rows dropped") {
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, Seq(3.0f, 4.0f)),
      (3L, Seq(5.0f, 6.0f)),
      (4L, Seq(9.0f)) // wrong dimension: dropped, not crashed
    ).toDF("vec_id", "embedding")
    val r = Similarity.covarianceMatrix(vecs, "embedding", scale = 2L)
      .collect().map(x => ((x.getInt(0), x.getInt(1)),
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    // quantized at scale 2: x = (2,6,10), y = (4,8,12)
    assert(r((0, 0)) === ((4L + 36L + 100L, 18L, 18L, 3L)))
    assert(r((0, 1)) === ((8L + 48L + 120L, 18L, 24L, 3L)))
    assert(r((1, 1)) === ((16L + 64L + 144L, 24L, 24L, 3L)))
    assert(r.size === 3)
    // and the derived sample covariance agrees with the float formula:
    // cov(x,y) on (1,3,5)/(2,4,6) = 4; fixed-point at scale 2 → 16/scale²
    val (sxy, sxi, sxj, n) = r((0, 1))
    val cov = (sxy.toDouble - sxi.toDouble * sxj / n) / (n - 1) / (2.0 * 2.0)
    assert(math.abs(cov - 4.0) < 1e-9)
  }

  test("sourceTokenDrift: fixed-point KL matches hand computation; identical dists at 0") {
    val docs = Seq(
      ("A", "x x y"), ("B", "x y y y")).toDF("source", "text")
    val r = Text.sourceTokenDrift(docs, "text", "source")
      .collect().map(x => (x.getString(0), (x.getLong(1), x.getLong(2)))).toMap
    def micro(p: Double, q: Double): Long = Math.round(Math.log(p / q) * 1e6)
    // corpus: x=3/7, y=4/7; A: x=2/3, y=1/3; B: x=1/4, y=3/4
    val klA = (2L * micro(2.0 / 3, 3.0 / 7) + 1L * micro(1.0 / 3, 4.0 / 7)) / 3L
    val klB = (1L * micro(1.0 / 4, 3.0 / 7) + 3L * micro(3.0 / 4, 4.0 / 7)) / 4L
    assert(r("A") === ((3L, klA)))
    assert(r("B") === ((4L, klB)))
    assert(klA > 0 && klB > 0)
    // two sources with the same distribution as the corpus: every log-ratio
    // is ln(1) → exactly 0 micro-nats
    val same = Seq(("A", "x y"), ("B", "x y")).toDF("source", "text")
    val r2 = Text.sourceTokenDrift(same, "text", "source")
      .collect().map(x => (x.getString(0), x.getLong(2))).toMap
    assert(r2 === Map("A" -> 0L, "B" -> 0L))
  }

  test("tokenizerFertility: integer census and micro-unit ratios by group") {
    import graft.functions.Text
    val docs = Seq(
      ("en", "ab cd"), ("en", "x"), ("de", "foo-bar baz9")).toDF("lang", "text")
    val r = Text.tokenizerFertility(docs, "lang", "text")
      .collect().map(x => (x.getString(0),
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
         x.getLong(5), x.getLong(6)))).toMap
    // en: words 2+1=3, pieces "ab"," cd"=2 and "x"=1 → 3, chars 5+1=6
    assert(r("en") === ((2L, 3L, 3L, 6L, 1000000L, 2000000L)))
    // de "foo-bar baz9": pieces foo,-,bar," baz",9 → 5; words 2; chars 12
    assert(r("de") === ((1L, 2L, 5L, 12L, 2500000L, 2400000L)))
    // zero-denominator contract: an all-empty group gets NULL ratios (both
    // engines — the oracle divides by NULLIF), never a throw
    val empt = Seq(("xx", ""), ("xx", "   ")).toDF("lang", "text")
    val r0 = Text.tokenizerFertility(empt, "lang", "text").collect().head
    assert(r0.getLong(2) === 0L && r0.isNullAt(5) && r0.isNullAt(6))
  }

  test("vocabFingerprint: order- and repetition-insensitive, vocab-sensitive") {
    import graft.functions.Text
    val df = Seq(
      (1L, "b a b a"), (2L, "a b"), (3L, "a c"), (4L, "  a   b ")).toDF("id", "text")
    val fps = df.select(col("id"), Text.vocabFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) === fps(2L)) // shuffled + repeated tokens collapse
    assert(fps(1L) !== fps(3L)) // different vocabulary differs
    // NOTE: tokens() splits on single spaces, so runs of spaces yield empty
    // tokens — doc 4 keys differently from doc 2 (same convention as every
    // other tokens() consumer; the oracle's string_split matches it)
    assert(fps(4L) !== fps(2L))
  }

  test("psiByBucket: micro-nat PSI matches hand computation; identical dists at 0") {
    import graft.functions.Text
    val docs = Seq(
      ("A", 5L), ("A", 15L), ("B", 5L), ("B", 25L)).toDF("s", "v")
    val r = Text.psiByBucket(docs, "s", "v", 10L)
      .collect().map(x => (x.getString(0), (x.getLong(1), x.getLong(2)))).toMap
    // buckets: A{0,1}, B{0,2}; corpus b0=2,b1=1,b2=1, n=4
    // shared b0 term: p=q=1/2 → 0; unique bucket: (1/2-1/4)ln(2)
    val t = Math.round(0.25 * Math.log(2.0) * 1e6)
    assert(r("A") === ((2L, t)))
    assert(r("B") === ((2L, t)))
    // same distribution in every group → every term ln(1) → exactly 0
    val same = Seq(("A", 5L), ("A", 15L), ("B", 5L), ("B", 15L)).toDF("s", "v")
    val r2 = Text.psiByBucket(same, "s", "v", 10L)
      .collect().map(x => (x.getString(0), x.getLong(2))).toMap
    assert(r2 === Map("A" -> 0L, "B" -> 0L))
    // FLOOR-division bucketing (DuckDB `//` contract): −5 lands in bucket
    // −1, not 0 — under truncation both groups would share bucket 0 and
    // PSI would collapse to 0; under floor they are disjoint
    val neg = Seq(("A", -5L), ("B", 5L)).toDF("s", "v")
    val r3 = Text.psiByBucket(neg, "s", "v", 10L)
      .collect().map(x => (x.getString(0), x.getLong(2))).toMap
    val tNeg = Math.round(0.5 * Math.log(2.0) * 1e6)
    assert(r3 === Map("A" -> tNeg, "B" -> tNeg))
  }

  test("bigramNll: conditional corpus-LM surprise matches hand computation") {
    import graft.functions.Text
    val docs = Seq((1L, "a b a c"), (2L, "a b x"), (3L, "z")).toDF("doc_id", "text")
    val got = Text.bigramNll(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // bigrams: d1 = [a b, b a, a c], d2 = [a b, b x]
    // c2: (a b)=2, (b a)=1, (a c)=1, (b x)=1; c1: a·=3, b·=2
    def m(p: Double) = Math.round(-Math.log(p) * 1e6)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) === ((3L, r4((m(2.0 / 3) + m(1.0 / 2) + m(1.0 / 3)) / 1e6 / 3))))
    assert(got(2L) === ((2L, r4((m(2.0 / 3) + m(1.0 / 2)) / 1e6 / 2))))
    // single-token doc has no bigrams → absent, not zero
    assert(!got.contains(3L))
  }

  test("shardAssign: balanced contiguous shards over the md5 order, nothing lost") {
    import graft.operators.Sampling
    val df = (0L until 100L).map(i => (i, s"d$i")).toDF("id", "payload")
    val r = Sampling.shardAssign(df, "id", nShards = 7, buckets = 4).collect()
    assert(r.length === 100)
    val byShard = r.groupBy(_.getAs[Long]("shard")).view.mapValues(_.length).toMap
    assert(byShard.keySet === (0L until 7L).toSet)
    // exact integer split: sizes are floor/ceil(100/7) = 14 or 15
    assert(byShard.values.forall(n => n == 14 || n == 15))
    // shards are contiguous ranges of the md5-ordered positions
    val posByShard = r.groupBy(_.getAs[Long]("shard"))
      .view.mapValues(_.map(_.getAs[Long]("pos")).sorted).toMap
    (0L until 7L).foreach { s =>
      val ps = posByShard(s)
      assert(ps.last - ps.head === ps.length - 1, s"shard $s not contiguous")
    }
    // and the md5 order itself: pos sorts identically to the hex key
    val byPos = r.sortBy(_.getAs[Long]("pos")).map(_.getAs[String]("__k")).toSeq
    assert(byPos === byPos.sorted)
  }

  test("paragraphDedup: keep-first across docs, reconstruction in order, empty survivors") {
    // paragraphs pre-split (real corpora: split on \n\n)
    val docs = Seq(
      (1L, Seq("shared header", "unique one")),
      (2L, Seq("shared header", "unique two", "unique one")),
      (3L, Seq("shared header"))).toDF("doc_id", "paras")
    val r = Dedup.paragraphDedup(docs, "doc_id", col("paras"))
      .collect().map(x => (x.getLong(0),
        (x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    // doc 1 owns both its paragraphs (first occurrences)
    assert(r(1L) === (("shared header unique one", 2L, 2L)))
    // doc 2 loses the header AND "unique one" (doc 1 got there first),
    // keeps its own paragraph — order preserved
    assert(r(2L) === (("unique two", 3L, 1L)))
    // doc 3 loses everything → empty reconstruction, 0 kept
    assert(r(3L) === (("", 1L, 0L)))
  }

  test("naiveBayesPredict: separable vocab classifies; smoothing handles unseen; tie → lowest class") {
    val train = Seq(
      (1L, "spark scala shuffle", "code"), (2L, "scala catalyst spark", "code"),
      (3L, "sonnet rhyme verse", "poem"), (4L, "verse rhyme meter", "poem"))
      .toDF("doc_id", "text", "source")
    val test_ = Seq(
      (10L, "spark shuffle scala"), // code vocabulary
      (11L, "rhyme verse sonnet"), // poem vocabulary
      (12L, "zzz qqq www")) // fully unseen → priors+defaults tie → lowest class
      .toDF("doc_id", "text")
    val r = Text.naiveBayesPredict(train, test_, "doc_id", "text", "source")
      .collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(r === Map(10L -> "code", 11L -> "poem", 12L -> "code"))
    // score sanity: hand-compute doc 10. V=8 distinct train terms, each class
    // 6 tokens; P(term|code) = (2+1)/(6+8) for spark/scala (ct=2), (1+1)/14
    // for shuffle; prior ln(2/4)
    val s10 = Text.naiveBayesPredict(train, test_, "doc_id", "text", "source")
      .where(col("doc_id") === 10L).collect().head.getLong(2)
    def u(x: Double): Long = Math.round(Math.log(x) * 1e6)
    val expect = u(3.0 / 14) + u(3.0 / 14) + u(2.0 / 14) + u(0.5)
    assert(s10 === expect)
  }

  test("semanticDedup: identical vectors pair within their cluster, orthogonal don't") {
    val e1 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val e2 = Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    val near = e1.clone(); near(1) = 0.05f // cos(e1, near) ≈ 0.999
    val vecs = Seq(
      (0L, e1.toSeq), (1L, e2.toSeq), (2L, near.toSeq),
      (3L, Seq.fill(64)(0.25f)) // far from both axes
    ).toDF("vec_id", "embedding")
    val r = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      k = 2, thrNum = 9, thrDen = 10)
      .collect().map(x => (x.getLong(1), x.getLong(2))).toSet
    // 0 and 2 share the e1-side cluster and clear 0.9; nothing else does
    assert(r === Set((0L, 2L)))
  }

  test("sequenceIndex: spans tile the token stream; budget-crossing doc overhangs") {
    import graft.operators.Packing
    val docs = (0L until 50L).map(i => (i, 10L + (i % 7))).toDF("id", "n_tok")
    val r = Packing.sequenceIndex(docs, "id", "n_tok", seqTokens = 32, buckets = 4)
      .collect().map(x => (x.getAs[Long]("id"),
        (x.getAs[Long]("seq_id"), x.getAs[Long]("tok_start"), x.getAs[Long]("tok_end"))))
      .toMap
    assert(r.size === 50)
    // reconstruct the md5 order and check the spans against a sequential model
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(id: Long): String = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ordered = (0L until 50L).sortBy(hex)
    var cum = 0L
    ordered.foreach { id =>
      val n = 10L + (id % 7)
      val seq = cum / 32
      assert(r(id) === ((seq, cum - seq * 32, cum - seq * 32 + n)),
        s"doc $id at cum $cum")
      cum += n
    }
    // every doc starts inside its sequence; only spans may overhang
    assert(r.values.forall { case (_, s, e) => s >= 0 && s < 32 && e > s })
    assert(r.values.exists { case (_, _, e) => e > 32 }, "expected an overhanging doc")
  }

  test("sequenceTexts: docs concatenate in stream order with eos; token sums per sequence") {
    import graft.operators.Packing
    val docs = (0L until 12L).map(i => (i, s"doc$i body", 8L))
      .toDF("id", "text", "n_tok")
    val r = Packing.sequenceTexts(docs, "id", "text", "n_tok",
      seqTokens = 16, eos = "<eos>", buckets = 3).collect()
    // 12 docs × 8 tokens into 16-token sequences → exactly 2 docs each
    assert(r.length === 6)
    assert(r.forall(_.getAs[Long]("n_docs") === 2L))
    assert(r.forall(_.getAs[Long]("n_tokens") === 16L))
    assert(r.forall(_.getAs[String]("seq_text").split(" <eos> ").length === 2))
    // order within a sequence = md5 stream order (tok_start 0 before 8)
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(id: Long): String = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ordered = (0L until 12L).sortBy(hex).map(i => s"doc$i body")
    val expect = ordered.grouped(2).map(_.mkString(" <eos> ")).toSet
    assert(r.map(_.getAs[String]("seq_text")).toSet === expect)
  }

  test("sequenceIndexDelta: batch continues the corpus stream; corpus spans untouched") {
    import graft.operators.Packing
    val corpus = (0L until 10L).map(i => (i, 10L)).toDF("id", "n_tok") // 100 tokens
    val batch = (100L until 106L).map(i => (i, 8L)).toDF("id", "n_tok")
    val delta = Packing.sequenceIndexDelta(corpus, batch, "id", "n_tok",
      seqTokens = 32, buckets = 2)
      .collect().map(r => (r.getAs[Long]("id"),
        (r.getAs[Long]("seq_id"), r.getAs[Long]("tok_start"), r.getAs[Long]("tok_end"))))
      .toMap
    assert(delta.size === 6)
    // batch stream offsets start at the corpus total (100): first batch doc
    // lands IN the corpus's last partial sequence (seq 3 = tokens 96..128)
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(id: Long): String = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    var cum = 100L
    (100L until 106L).sortBy(hex).foreach { id =>
      val seq = cum / 32
      assert(delta(id) === ((seq, cum - seq * 32, cum - seq * 32 + 8L)), s"doc $id")
      cum += 8L
    }
    assert(delta.values.map(_._1).min === 3L) // continues, not restarts
    // append-only: the corpus's own index is unaffected by the batch
    val before = Packing.sequenceIndex(corpus, "id", "n_tok", 32, 2).collect()
    val after = Packing.sequenceIndex(corpus, "id", "n_tok", 32, 2).collect()
    assert(before.map(_.toString).sorted === after.map(_.toString).sorted)
  }

  test("winsorizeByGroup clamps to the same bounds filterByGroupQuantiles keeps") {
    import graft.operators.Sampling
    val df = (1 to 40).map(i => (s"g${i % 2}", i.toDouble)).toDF("g", "v")
    val w = Sampling.winsorizeByGroup(df, "g", "v", 0.25, 0.75, "wv").collect()
    assert(w.length === 40) // row count preserved
    val bounds = df.groupBy(col("g")).agg(
      percentile(col("v"), lit(0.25)).as("lo"),
      percentile(col("v"), lit(0.75)).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    w.foreach { r =>
      val (lo, hi) = bounds(r.getString(0))
      val (v, wv) = (r.getDouble(1), r.getAs[Double]("wv"))
      assert(wv === math.min(math.max(v, lo), hi))
    }
    // interior values untouched, outliers pulled exactly to the boundary
    assert(w.exists(r => r.getDouble(1) != r.getAs[Double]("wv")))
  }

  test("semanticDedupDelta: batch near-dup of corpus flagged; no corpus self-pairs; fresh silent") {
    val e1 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val e2 = Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    val near = e1.clone(); near(1) = 0.05f
    val corpus = Seq((0L, e1.toSeq), (1L, e2.toSeq), (2L, e1.toSeq)) // 0 and 2 identical
      .toDF("vec_id", "embedding")
    val incoming = Seq((10L, near.toSeq), (11L, Seq.fill(64)(-0.25f)))
      .toDF("vec_id", "embedding")
    val r = Dedup.semanticDedupDelta(corpus, incoming, "vec_id", "embedding",
      k = 2, thrNum = 9, thrDen = 10)
      .collect().map(x => (x.getLong(1), x.getLong(2))).toSet
    // the batch near-dup pairs with BOTH identical corpus vectors — and the
    // corpus-internal duplicate (0,2) is NOT emitted (delta contract)
    assert(r === Set((10L, 0L), (10L, 2L)))
  }

  test("epochSample: deterministic per epoch, independent across epochs, growth-stable") {
    import graft.operators.Sampling
    val df = (0L until 400L).toDF("id")
    def ids(e: Int, d: org.apache.spark.sql.DataFrame) =
      Sampling.epochSample(d, "id", e, 0.25).collect().map(_.getLong(0)).toSet
    val e0 = ids(0, df)
    assert(e0 === ids(0, df)) // rerun-identical
    val e1 = ids(1, df)
    assert(e0 !== e1) // epochs draw different subsamples
    assert(e0.size > 60 && e0.size < 140) // ~100 expected
    // growth stability: membership of existing rows unchanged by new rows
    val grown = (0L until 800L).toDF("id")
    assert(ids(0, grown).filter(_ < 400L) === e0)
  }

  test("distinctCensusHll: sharded-merged estimate equals one-shot, bound holds") {
    import graft.functions.Sketches
    // 2 groups × known distinct counts; values repeat across shards so the
    // union must dedup across shard sketches, not just concatenate
    val df = (0L until 4000L).map(i => (if (i % 2 == 0) "a" else "b", i % 700, i % 8))
      .toDF("g", "v", "shard")
    val r = Sketches.distinctCensusHll(df, "g", "v", col("shard"))
      .collect().map(x => x.getString(0) -> (x.getAs[Long]("n_distinct"), x.getAs[Long]("within")))
      .toMap
    // evens 0..698 step2 → 350 distinct for a; odds → 350 for b
    assert(r("a")._1 === 350L && r("b")._1 === 350L)
    assert(r.values.forall(_._2 === 1L)) // HLL within 5% at lgK=12
    // mergeability: union of per-shard sketches == the single global sketch
    val sharded = df.groupBy(col("g"), col("shard"))
      .agg(hll_sketch_agg(col("v")).as("sk"))
      .groupBy(col("g")).agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val oneShot = df.groupBy(col("g")).agg(hll_sketch_estimate(hll_sketch_agg(col("v"))).as("est"))
    val both = sharded.join(oneShot.withColumnRenamed("est", "est1"), Seq("g")).collect()
    both.foreach(x => assert(x.getAs[Long]("est") === x.getAs[Long]("est1")))
  }

  test("waterFillBudget: hand-computed levels, exact budget, full-funding case") {
    import graft.operators.Sampling
    // amounts 10,20,30,100; total 160; budget 6/10 → 96
    // ascending: K=2 fully funded (10+20 + 2*20=70 ≤ 96; adding 30: 60+30=90 ≤ 96
    // → K=3? check: P3=60, (4-3)*30 → 60+30=90 ≤ 96 so 30 IS fully funded;
    // remaining m=1, R=96-60=36, but alloc=min is capped by formula L=36 → 36
    val counts = Seq(("a", 10L), ("b", 20L), ("c", 30L), ("d", 100L))
      .toDF("src", "amt")
    val r = Sampling.waterFillBudget(counts, "src", "amt", 6, 10, buckets = 2)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("alloc")).toMap
    assert(r === Map("a" -> 10L, "b" -> 20L, "c" -> 30L, "d" -> 36L))
    assert(r.values.sum === 96L) // Σalloc = budget exactly
    // remainder spread: amounts 5,7,7; budget 1/2 → 9; K=0 (5*3=15>9? 5+2*5=15>9);
    // L=9/3=3, rem 0 → all get 3
    val c2 = Seq(("x", 5L), ("y", 7L), ("z", 7L)).toDF("src", "amt")
    val r2 = Sampling.waterFillBudget(c2, "src", "amt", 1, 2, buckets = 2)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("alloc")).toMap
    assert(r2 === Map("x" -> 3L, "y" -> 3L, "z" -> 3L))
    // budget ≥ total: everyone keeps everything, no division evaluated
    val r3 = Sampling.waterFillBudget(c2, "src", "amt", 3, 1, buckets = 2)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("alloc")).toMap
    assert(r3 === Map("x" -> 5L, "y" -> 7L, "z" -> 7L))
  }

  test("leakageSafeSplit: paired docs share a side, singletons split by own md5") {
    import graft.operators.Sampling
    val docs = (0L until 200L).toDF("doc_id")
    // chain 3-4-5 forms one component; 7-8 another; rest singletons
    val pairs = Seq((3L, 4L), (4L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val r = Sampling.leakageSafeSplit(docs, "doc_id", pairs, evalFraction = 0.25)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("rep_id"), x.getAs[String]("split"))).toMap
    assert(r.size === 200) // left-outer: no docs lost or duplicated
    // every component member inherits the min-id representative's side
    assert(Seq(3L, 4L, 5L).map(r(_)) === Seq.fill(3)((3L, r(3L)._2)))
    assert(Seq(7L, 8L).map(r(_)) === Seq.fill(2)((7L, r(7L)._2)))
    // singletons: rep is self, side from own md5 — matches deterministic()
    val evalIds = Sampling.deterministic(docs, "doc_id", 0.25)
      .collect().map(_.getLong(0)).toSet
    r.filterNot(kv => Seq(3L, 4L, 5L, 7L, 8L).contains(kv._1)).foreach {
      case (id, (rep, split)) =>
        assert(rep === id)
        assert(split === (if (evalIds(id)) "eval" else "train"))
    }
    // both splits non-empty at this fraction on 200 ids
    assert(r.values.map(_._2).toSet === Set("train", "eval"))
  }

  test("vocabCoverage: ranks, counts and ppm curve match the hand computation") {
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val r = Text.vocabCoverage(docs, "text", vocabSize = 10, buckets = 2)
      .collect().map(x => (x.getAs[Long]("rank"),
        (x.getAs[String]("term"), x.getAs[Long]("ct"), x.getAs[Long]("cov_ppm"))))
      .toMap
    // counts: a=3, b=2, c=1; total 6; cum 3,5,6
    assert(r === Map(
      1L -> (("a", 3L, 500000L)),
      2L -> (("b", 2L, 833333L)),
      3L -> (("c", 1L, 1000000L))))
  }

  test("pmiBigrams: a true collocation outranks independent co-occurrence") {
    // "new york" always adjacent; "the" is everywhere (independent filler)
    val line = "new york the cat the dog"
    val docs = (1 to 10).map(i => (i.toLong, line)).toDF("doc_id", "text")
    val r = Text.pmiBigrams(docs, "text", minCount = 5L, topK = 5)
      .collect().map(x => ((x.getString(0), x.getString(1)), x.getAs[Long]("pmi_u")))
    assert(r.head._1 === (("new", "york")))
    // hand PMI for (new, york): p(xy)=10/50 bigrams, p(new)=p(york)=10/60 tokens
    val expect = Math.round(Math.log((10.0 / 50) / ((10.0 / 60) * (10.0 / 60))) * 1e6)
    assert(r.head._2 === expect)
    // the independent pairs carry strictly lower PMI
    assert(r.tail.forall(_._2 < expect))
  }

  test("data card arithmetic: dup ppm from exact fingerprints, token totals") {
    val docs = Seq(
      (1L, "alpha beta gamma", "s1"), (2L, "ALPHA beta, gamma!", "s1"),
      (3L, "unrelated words here now", "s1"), (4L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val card = docs.select(col("source"),
      Text.tokenCount(col("text")).cast("long").as("n_tok"),
      Text.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("fp")).as("n_unique"),
        expr("((count(1) - count(DISTINCT fp)) * 1000000) DIV count(1)").as("dup_ppm"))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // docs 1 and 2 normalize to the same fingerprint: 1 dup of 3 → 333333 ppm
    assert(card("s1") === ((3L, 10L, 2L, 333333L)))
    assert(card("s2") === ((1L, 2L, 1L, 0L)))
  }

  test("contaminationAttribution: per-set hit floors, sorted label lists, clean docs absent") {
    val run = (1 to 10).map(i => s"w$i").mkString(" ")
    val other = (50 to 60).map(i => s"z$i").mkString(" ")
    val train = Seq((1L, run), (2L, other), (3L, run + " " + other))
      .toDF("doc_id", "text")
    val probes = Seq(("evalA", run), ("evalB", other), ("evalB", run))
      .toDF("label", "text")
    val r = Dedup.contaminationAttribution(train, probes, "doc_id", "text", "label",
      n = 5, minHits = 3L)
      .collect().map(x => (x.getLong(0), (x.getString(1), x.getLong(2)))).toMap
    // doc 1 shares the w-run with BOTH sets (evalB also carries it);
    // doc 2 only with evalB; doc 3 with both
    assert(r(1L) === (("evalA,evalB", 2L)))
    assert(r(2L) === (("evalB", 1L)))
    assert(r(3L) === (("evalA,evalB", 2L)))
  }

  test("budget cut keeps the quality prefix: exclusive-prefix rule, crossing doc stays") {
    import graft.operators.OrderedScan
    // quality proxy qu given directly; budget 25 over docs of 10 tokens
    val docs = Seq((1L, 10L, 900000L), (2L, 10L, 800000L), (3L, 10L, 700000L),
      (4L, 10L, 600000L)).toDF("doc_id", "n_tok", "qu")
    val keyed = docs.withColumn("__ok", concat(
      lpad((lit(10000000L) - col("qu")).cast("string"), 8, "0"), lit(":"),
      md5(col("doc_id").cast("string"))))
    val r = OrderedScan.rowNumberAndSum(keyed, "__ok", "__rn", "n_tok", "__cum", 2)
      .withColumn("__cum", col("__cum").cast("long"))
      .where(col("__cum") - col("n_tok") < 25)
      .collect().map(_.getLong(0)).toSet
    // quality order 1,2,3,4; cum 10,20,30,40; exclusive prefixes 0,10,20,30
    // → docs 1-3 kept (doc 3 crosses the budget and stays), doc 4 cut
    assert(r === Set(1L, 2L, 3L))
  }

  test("textRankTerms: integer PageRank matches a sequential reference; hub ranks first") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val got = Text.textRankTerms(docs, "text", iters = 4, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // sequential reference with the same integer ops
    val edges = Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "a") -> 2L, ("c", "a") -> 1L)
    val wout = edges.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nodes = wout.keySet
    val base = 1000000000000L / nodes.size
    var r = nodes.map(_ -> base).toMap
    for (_ <- 1 to 4) {
      val cin = nodes.map { v =>
        v -> edges.collect { case ((u, v2), w) if v2 == v => (r(u) * w) / wout(u) }.sum
      }.toMap
      r = nodes.map(v => v -> (base * 15L / 100L + 85L * cin(v) / 100L)).toMap
    }
    val expect = r.toSeq.sortBy { case (t, rv) => (-rv, t) }
    assert(got.toSeq === expect)
    // 4 damped iterations settle the early oscillation: the hub ranks first
    assert(got.head._1 === "a")
  }

  test("bpe merge pairs: word-frequency-weighted char pairs rank the merge") {
    val docs = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val words = docs.select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val pairs = words.where(length(col("w")) >= 2)
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // low×2 + lower×1: lo=3, ow=3, er=1, we=1 → ties break lexicographically
    assert(pairs === Seq(("lo", 3L), ("ow", 3L), ("er", 1L), ("we", 1L)))
  }

  test("semantic dedup applied: components drop non-representatives, census survives") {
    val e1 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val near = e1.clone(); near(1) = 0.05f
    val e2 = Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    // seeds are the 2 lowest ids (e1, e2); the near-dup of e1 comes later
    val vecs = Seq((0L, e1.toSeq), (1L, e2.toSeq), (2L, near.toSeq))
      .toDF("vec_id", "embedding").withColumn("label", lit(7))
    val pairs = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      k = 2, thrNum = 9, thrDen = 10).select(col("id_a"), col("id_b"))
    val drop = Dedup.components(pairs)
      .where(col("id") =!= col("cluster"))
      .select(col("id").cast("long").as("vec_id"))
    val survivors = vecs.join(drop, Seq("vec_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(0L, 1L)) // 2 collapses into 0's component
  }

  test("saltedAgg: identical to the plain groupBy across all four ops") {
    import graft.operators.Skew
    val df = (1 to 200).map(i => (s"k${i % 3}", i.toLong, i * 1.5))
      .toDF("key", "n", "x")
    val salted = Skew.saltedAgg(df, "key", Seq(
      "sum_n" -> ("sum", "n"), "cnt" -> ("count", ""),
      "min_x" -> ("min", "x"), "max_x" -> ("max", "x")), salts = 8)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val plain = df.groupBy(col("key")).agg(
      sum(col("n")).as("sum_n"), count(lit(1)).as("cnt"),
      min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(salted === plain)
    assert(salted.size === 3)
  }

  test("componentsIncremental: warm-start reaches the full-recompute fixed point") {
    // old graph: chain 1-2-3, pair (10,11), singleton via labels (20);
    // new edges merge 3-10 (bridges the two old components) and add 30-31
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels0 = Dedup.components(oldPairs)
      .unionByName(Seq((20L, 20L)).toDF("id", "cluster"))
    val newPairs = Seq((3L, 10L), (30L, 31L)).toDF("id_a", "id_b")
    val inc = Dedup.componentsIncremental(labels0, newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = Dedup.components(oldPairs.unionAll(newPairs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every node of the full graph agrees; the old singleton is retained
    full.foreach { case (id, c) => assert(inc(id) === c, s"node $id") }
    assert(inc(20L) === 20L)
    assert(inc.size === full.size + 1)
  }

  test("publish+probe LSH index equals the direct delta computation") {
    val mk = (id: Long, t: String) => (id, t)
    val docs = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog today"),
      mk(2L, "the quick brown fox jumps over the lazy cat today"),
      mk(3L, "completely different text with no overlap at all here"),
      mk(4L, "the quick brown fox jumps over the lazy dog today"),
      mk(5L, "unrelated words that share nothing with the others wow"))
      .toDF("doc_id", "text")
    val corpus = docs.where(col("doc_id") <= 3)
    val incoming = docs.where(col("doc_id") >= 4)
    Dedup.publishLshIndex(corpus, "doc_id", "text", "graft_lshspec", buckets = 2)
    val probed = Dedup.probeLshIndex(spark, incoming, "doc_id", "text", "graft_lshspec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Dedup.minhashLshDelta(corpus, incoming, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed === direct)
    assert(probed.exists { case (i, c, j) => i == 4L && c == 1L && j == 1.0 })
  }

  test("appendLshIndex equals republish over the union, and refuses duplicate ids") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different text with no overlap at all here"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "unrelated words that share nothing with the others wow"))
      .toDF("doc_id", "text")
    val a = docs.where(col("doc_id") <= 2)
    val b = docs.where(col("doc_id") === 3 || col("doc_id") === 4)
    val incoming = docs.where(col("doc_id") === 5)
    Dedup.publishLshIndex(a, "doc_id", "text", "graft_lshspec_app", buckets = 2,
      corpusFp = "a")
    Dedup.appendLshIndex(b, "doc_id", "text", "graft_lshspec_app", newCorpusFp = "ab")
    Dedup.publishLshIndex(a.union(b), "doc_id", "text", "graft_lshspec_full", buckets = 2,
      corpusFp = "ab")
    // table-level: appended index rows == republished index rows
    def rows(t: String) = indexRows(Dedup.LshStore, t, "buckets",
        Dedup.LshStore.storedMeta(spark, t).eps).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(rows("graft_lshspec_app") === rows("graft_lshspec_full"))
    // probe-level: identical reports under the SAME fingerprint
    def probe(t: String) = Dedup
      .probeLshIndex(spark, incoming, "doc_id", "text", t, corpusFp = "ab")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probe("graft_lshspec_app") === probe("graft_lshspec_full"))
    // the duplicate-id guard: re-appending an id already in the index fails
    val e = intercept[IllegalArgumentException] {
      Dedup.appendLshIndex(b, "doc_id", "text", "graft_lshspec_app", newCorpusFp = "abb")
    }
    assert(e.getMessage.contains("already present"))
    // a probe under a STALE fingerprint fails loudly after the append
    val e2 = intercept[IllegalArgumentException] {
      Dedup.probeLshIndex(spark, incoming, "doc_id", "text", "graft_lshspec_app",
        corpusFp = "a")
    }
    assert(e2.getMessage.contains("published over corpus"))
  }

  test("a torn append (bucket rows without doc rows) is detected, and compaction preserves probes") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different text with no overlap at all here"),
      (4L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val incoming = docs.where(col("doc_id") === 4)
    val corpus = docs.where(col("doc_id") <= 3)
    Dedup.publishLshIndex(corpus, "doc_id", "text", "graft_lshspec_torn",
      buckets = 2, corpusFp = "t")
    Dedup.assertLshIndexConsistent(spark, "graft_lshspec_torn") // healthy
    val beforeProbe = Dedup
      .probeLshIndex(spark, incoming, "doc_id", "text", "graft_lshspec_torn",
        corpusFp = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // compaction: fewer files, identical probe
    def files = Dedup.describeLshIndex(spark, "graft_lshspec_torn")
      .where(col("table") === "graft_lshspec_torn_buckets").head().getLong(5)
    val filesBefore = files
    Dedup.compactLshIndex(spark, "graft_lshspec_torn")
    assert(files <= filesBefore)
    val afterProbe = Dedup
      .probeLshIndex(spark, incoming, "doc_id", "text", "graft_lshspec_torn",
        corpusFp = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterProbe === beforeProbe)
    // simulate the tear: band rows appended for an id with no _docs row —
    // the invariant the consistency assert exists to catch
    rewriteIndexEpoch(Dedup.LshStore, "graft_lshspec_torn", "buckets", "bk", 2,
      ep = Dedup.LshStore.storedMeta(spark, "graft_lshspec_torn").eps.head) { df =>
      df.unionByName(df.limit(1).withColumn("id", lit(999L)))
    }
    val e = intercept[IllegalArgumentException] {
      Dedup.assertLshIndexConsistent(spark, "graft_lshspec_torn")
    }
    assert(e.getMessage.contains("torn append"))
  }

  test("strict LSH consistency catches count-BALANCED corruption the count relation passes") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different text with no overlap at all here"))
      .toDF("doc_id", "text")
    Dedup.publishLshIndex(docs, "doc_id", "text", "graft_lshspec_strict",
      buckets = 2, corpusFp = "s")
    Dedup.assertLshIndexConsistent(spark, "graft_lshspec_strict", strict = true) // healthy
    // count-balanced tear: doc 3's band rows are rewritten onto doc 1's id —
    // total bucket rows unchanged (the cheap relation holds), but doc 1 now
    // has 2x bands rows and doc 3 has none
    rewriteIndexEpoch(Dedup.LshStore, "graft_lshspec_strict", "buckets", "bk", 2)(
      _.withColumn("id", when(col("id") === 3L, 1L).otherwise(col("id"))))
    Dedup.assertLshIndexConsistent(spark, "graft_lshspec_strict") // cheap check passes
    val e = intercept[IllegalArgumentException] {
      Dedup.assertLshIndexConsistent(spark, "graft_lshspec_strict", strict = true)
    }
    assert(e.getMessage.contains("count-balanced"))
  }

  test("strict LSH consistency catches a duplicated _docs row (docs-side aggregation)") {
    // regression guard for the r17 strict-audit shape: since strict mode
    // skips the whole-table count relation, a duplicated docs row must be
    // caught by the per-id join itself — which requires the docs side to be
    // aggregated per id (an unaggregated docs side yields two join rows
    // that each pass __n == bands)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different text with no overlap at all here"))
      .toDF("doc_id", "text")
    Dedup.publishLshIndex(docs, "doc_id", "text", "graft_lshspec_dupdoc",
      buckets = 2, corpusFp = "d")
    Dedup.assertLshIndexConsistent(spark, "graft_lshspec_dupdoc", strict = true) // healthy
    // duplicate doc 2's _docs row — band rows untouched, so every id still
    // has exactly `bands` band rows; only the docs-side census can see it
    rewriteIndexEpoch(Dedup.LshStore, "graft_lshspec_dupdoc", "docs", "id", 2)(df =>
      df.unionByName(df.where(col("id") === 2L)))
    val e = intercept[IllegalArgumentException] {
      Dedup.assertLshIndexConsistent(spark, "graft_lshspec_dupdoc", strict = true)
    }
    assert(e.getMessage.contains("duplicated docs row"))
  }
}
