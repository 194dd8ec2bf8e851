package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Par, Vectors}
import graft.sources.{IndexMeta, IndexStore}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *  - bruteForce: broadcast the (small) query set against the corpus; exact
  *    cosine; top-k per query via partitioned window. The corpus side streams
  *    — scales to any corpus size as long as the query set broadcasts.
  *  - ivf: IVF-style bucketing — assign every vector to its nearest of K
  *    pre-chosen centroid vectors (a projection), shuffle once on bucket id,
  *    and probe only the query's nearest `nprobe` buckets. Recall < 1,
  *    cost ~ nprobe/K of brute force — the standard scale path.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, cosine). */
  def bruteForceKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // zero-norm rows would score NaN, which sorts ABOVE every cosine in the
    // desc ranking — exclude them (see Dedup.embeddingNearDupLsh)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(call_function("norm2_f32", col(vecCol))).as("cn"))
      .where(col("cn") > 0)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(call_function("norm2_f32", col(vecCol))).as("qn"))
      .where(col("qn") > 0)
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", call_function("dot_f32", col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Exact top-k by INTEGER squared-L2 distance over long-array vectors —
    * the oracle-exact twin of [[bruteForceKnn]] for quantized embeddings
    * (e.g. [[graft.operators.Multimodal.embedQuantized]]): every distance
    * is exact long arithmetic, ties break on neighbor id, so the result
    * replays verbatim in SQL. Same broadcast-queries × streamed-corpus
    * shape. Output: (query_id, rank, neighbor_id, dist). */
  def bruteForceKnnL2Long(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist",
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
      // a null / wrong-dimension corpus vector makes zip_with pad with
      // nulls → dist NULL, and ascending order is NULLS FIRST — one
      // malformed row would rank 1 for EVERY query; drop it instead (the
      // float path and quantizedBase apply the same degenerate-row guard)
      .where(col("dist").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** Mini k-means for IVF centroids: init = the `k` vectors with smallest
    * ids, then `iters` Lloyd rounds (assign by cosine, mean per bucket).
    * Each round is ONE narrow treeAggregate pass — assignment and
    * (cluster × dim) double sums accumulate inside partitions and combine
    * on executors, so the driver receives O(k × dim) regardless of
    * partition count (a per-partition collect would scale driver memory
    * with the cluster). Replaces the posexplode+groupBy shape that
    * shuffled dim× the corpus every round. No sampling, fixed init, fixed
    * rounds; float sums are combine-order-dependent in the last ulps, the
    * standard caveat of any distributed float reduction (and why the
    * hash-verified twin q124 uses integer arithmetic). */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 3): Array[Array[Float]] = {
    import corpus.sparkSession.implicits._
    val vdf = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    var cents: Array[Array[Float]] = vdf
      .orderBy("id").limit(k)
      .as[(Long, Seq[Float])].collect().map(_._2.toArray)
    // every round re-reads the vectors — materialize the projection once
    val vRdd = vdf.select(col("v")).where(col("v").isNotNull)
      .localCheckpoint(true).as[Seq[Float]].rdd
    for (_ <- 1 to iters) {
      val cs = cents
      val dim = cs.map(_.length).max
      val (sums, counts) = vRdd.treeAggregate(
        (Array.fill(cs.length)(new Array[Double](dim)),
          Array.fill(cs.length)(new Array[Long](dim))))(
        seqOp = { case ((s, n), v) =>
          // argmax cosine, tie → lower cluster id (strict >)
          var best = 0
          var bestSim = Double.MinValue
          var c = 0
          while (c < cs.length) {
            var dot = 0.0; var na = 0.0; var nb = 0.0
            var j = 0
            val len = math.min(v.length, cs(c).length)
            while (j < len) {
              dot += v(j).toDouble * cs(c)(j); na += v(j).toDouble * v(j)
              nb += cs(c)(j).toDouble * cs(c)(j)
              j += 1
            }
            val sim = if (na == 0 || nb == 0) -2.0 else dot / math.sqrt(na * nb)
            if (sim > bestSim) { bestSim = sim; best = c }
            c += 1
          }
          var j = 0
          val len = math.min(v.length, dim)
          while (j < len) { s(best)(j) += v(j); n(best)(j) += 1; j += 1 }
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var c = 0
          while (c < cs.length) {
            var j = 0
            while (j < dim) { s1(c)(j) += s2(c)(j); n1(c)(j) += n2(c)(j); j += 1 }
            c += 1
          }
          (s1, n1)
        })
      val next = cents.map(_.clone())
      for (c <- cs.indices; j <- 0 until math.min(dim, next(c).length))
        if (counts(c)(j) > 0) next(c)(j) = (sums(c)(j) / counts(c)(j)).toFloat
      cents = next
    }
    cents
  }

  /** IVF-bucketed ANN: centroids = the embeddings of `centroidIds` (a cheap
    * deterministic stand-in; use [[kmeansCentroids]]+[[ivfKnnWithCentroids]]
    * for trained buckets); every corpus vector
    * is assigned to its nearest centroid (argmax cosine — pure projection,
    * no shuffle); queries probe their `nprobe` nearest centroid buckets only.
    * Output: (query_id, rank, neighbor_id, cosine) — approximate. */
  def ivfKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroidIds: Seq[Long],
      nprobe: Int = 2): DataFrame = {
    val cents = corpus
      .where(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
      .collect()
      .map(r => r.getSeq[Float](1).toArray)
    require(cents.nonEmpty, "no centroid vectors found")
    ivfKnnWithCentroids(corpus, queries, idCol, vecCol, k, cents, nprobe)
  }

  /** SQL-PORTABLE IVF ANN with FIXED-POINT k-means. Vectors quantize to
    * integers (floor(v·2^10) — the power-of-two scale makes the product
    * exact), so every Lloyd step is integer arithmetic: squared distances
    * are exact longs (argmin ties → lower centroid id), per-cluster sums
    * are order-free exact longs, and the centroid update floor(sum/count)
    * is engine-uniform. Unlike float k-means (whose per-cluster float sums
    * drift with partitioning/order — why q45/q89/q104/q111 are rows-only),
    * the WHOLE index build replays verbatim in SQL: init = the `nlist`
    * smallest-id vectors, a fixed number of rounds, empty clusters keep
    * their previous centroid. Each round is one distributed pass (compiled
    * assignment kernel + (cluster, dim) hash agg); only nlist×dim summary
    * rows reach the driver. Probe/verify as [[ivfKnnWithCentroids]]:
    * queries probe `nprobe` buckets, exact cosine via codegen kernels.
    * Output: (query_id, rank, neighbor_id, cosine) — approximate recall,
    * exact-deterministic contents. */
  /** Shared fixed-point prep for the portable ANN family: drop null /
    * wrong-dimension vectors (the kernels index q(d) for d < dim — a
    * malformed row must not abort the job), quantize to floor(v·2^10)
    * longs, materialize (training reads it rounds+2 times). */
  private def quantizedBase(
      corpus: DataFrame, idCol: String, vecCol: String): (DataFrame, Int) = {
    val (qdf, dims, _) = quantizedBaseCounted(corpus, idCol, vecCol)
    (qdf, dims)
  }

  /** [[quantizedBase]] + the corpus ROW COUNT, collected during checkpoint
    * materialization (zero extra jobs — the counting job doubles as the
    * materialization of the lazily checkpoint-marked plan, the same trick
    * as Dedup's shingleBandBase): the ADC plan choice in
    * [[pqKnnPortable]]/[[ivfPqKnnPortable]] needs the expected
    * candidates-per-query, and a separate `.count()` would pay one whole
    * job of scheduler latency per query. */
  private def quantizedBaseCounted(
      corpus: DataFrame, idCol: String, vecCol: String): (DataFrame, Int, Long) = {
    val (qdf, dims, n, _) = quantizedBaseCountedInit(corpus, idCol, vecCol, 0)
    (qdf, dims, n)
  }

  /** [[quantizedBaseCounted]] + the `initRows` SMALLEST-ID (id, q) rows,
    * all collected during the one checkpoint-materialization job: the
    * portable trainers seed centroids/codebooks from the smallest-id
    * quantized vectors (`orderBy(id).limit(n)` semantics, bit-identical),
    * and paying a separate TakeOrdered job for 8-32 model rows costs a
    * whole round of scheduler latency per query at base scale (the q104
    * residual in the r12 verdict). Each task keeps a bounded max-heap by
    * id; the driver merges (ids tie-broken arbitrarily, exactly like the
    * SQL limit under duplicate ids). */
  private def quantizedBaseCountedInit(
      corpus: DataFrame, idCol: String, vecCol: String, initRows: Int)
      : (DataFrame, Int, Long, Array[Array[Long]]) = {
    val quant = graft.functions.Vectors.fixedPointQuant(1024L)
    // Par.widen: the quantize kernel AND every downstream Lloyd
    // aggregation inherit this DataFrame's partitioning — a narrow
    // single-file scan would run the whole training single-core.
    // The checkpoint holds ALL non-null rows (the dominant dimension is
    // not known yet — it is a BYPRODUCT of this same materialization job,
    // which also returns per-dim counts and per-dim smallest-id heaps):
    // r12 paid a separate groupBy(size) shuffle job for dominantDim
    // before the checkpoint, one whole round of scheduler latency per
    // ANN query at base scale. The dominant-dim filter is applied to the
    // RETURNED frame (a cheap re-read of cached blocks), so downstream
    // semantics — dominant dimension by (count desc, dim asc), rows
    // filtered to it, init = its smallest-id rows — are unchanged.
    // CONTRACT: rows whose id does not cast to a non-null long are dropped
    // from the base here — they could never be returned as a neighbor_id
    // and keeping them would make the precollected smallest-id seeds (heap
    // skips nulls) disagree with lloydInt's orderBy(id).limit fallback
    // (sorts nulls FIRST). One filter, both init paths bit-identical.
    val ck = Par.widen(corpus
        .where(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .where(col("id").isNotNull))
      .select(col("id"), quant(col("v")).as("q"), col("v"))
      .localCheckpoint(false)
    val idIdx = ck.schema.fieldIndex("id")
    val qIdx = ck.schema.fieldIndex("q")
    val vIdx = ck.schema.fieldIndex("v")
    val k = initRows
    // per-dim (count, smallest-id max-heap): ragged corpora carry a
    // handful of distinct dims, so the per-task state stays model-sized
    type Heap = java.util.PriorityQueue[(Long, Array[Long])]
    def newHeap(): Heap = new java.util.PriorityQueue[(Long, Array[Long])](
      math.max(1, k),
      (a: (Long, Array[Long]), b: (Long, Array[Long])) =>
        java.lang.Long.compare(b._1, a._1))
    val parts = ck.sparkSession.sparkContext.runJob(
      ck.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val byDim = new java.util.HashMap[Int, (Array[Long], Heap)]()
        while (it.hasNext) {
          val r = it.next()
          val dim = r.getArray(vIdx).numElements()
          var slot = byDim.get(dim)
          if (slot == null) { slot = (Array(0L), newHeap()); byDim.put(dim, slot) }
          slot._1(0) += 1
          if (k > 0 && !r.isNullAt(idIdx)) {
            val heap = slot._2
            val id = r.getLong(idIdx)
            if (heap.size < k) heap.add((id, r.getArray(qIdx).toLongArray()))
            else if (id < heap.peek()._1) {
              heap.poll()
              heap.add((id, r.getArray(qIdx).toLongArray()))
            }
          }
        }
        val out = new Array[(Int, Long, Array[(Long, Array[Long])])](byDim.size)
        var i = 0
        val eit = byDim.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          out(i) = (e.getKey, e.getValue._1(0),
            e.getValue._2.toArray(new Array[(Long, Array[Long])](e.getValue._2.size)))
          i += 1
        }
        out
      })
    val counts = new java.util.HashMap[Int, Long]()
    parts.foreach(_.foreach { case (d, n, _) =>
      counts.merge(d, java.lang.Long.valueOf(n), (a, b) => a + b) })
    // dominant dimension: count desc, dim asc — dominantDim's exact order
    val dims =
      if (counts.isEmpty) 0
      else {
        var best = -1; var bestN = -1L
        val cit = counts.entrySet().iterator()
        while (cit.hasNext) {
          val e = cit.next()
          if (e.getValue > bestN || (e.getValue == bestN && e.getKey < best)) {
            best = e.getKey; bestN = e.getValue
          }
        }
        best
      }
    val init = parts.iterator.flatMap(_.iterator.filter(_._1 == dims).flatMap(_._3))
      .toArray.sortBy(_._1).take(initRows).map(_._2)
    val qdf = ck.where(size(col("v")) === dims)
    (qdf, dims, counts.getOrDefault(dims, 0L), init)
  }

  /** Exact-integer argmin-L2 over full-width centroids (tie → lower id). */
  private def assignIdxInt(q: Seq[Long], cs: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cs.length) {
      val cv = cs(c)
      var s = 0L
      var d = 0
      while (d < cv.length) { val x = q(d) - cv(d); s += x * x; d += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Integer Lloyd training shared by the portable IVF entries: init = the
    * `nlist` smallest-id quantized vectors; each round is ONE narrow
    * single-stage aggregate pass — per-partition (cluster × dim) integer
    * sums merged on the driver (nlist×dim longs, model-sized — plain
    * `aggregate`, not treeAggregate, whose tree combine adds a whole
    * repartition stage to save the driver a fold it does in microseconds),
    * floor-mean updates,
    * empty clusters keep their centroid. No explode, no shuffle; exact
    * long sums keep it order-free. */
  private def lloydInt(qdf: DataFrame, nlist: Int, rounds: Int,
      init: Option[Array[Array[Long]]] = None): Array[Array[Long]] = {
    import qdf.sparkSession.implicits._
    // init = the nlist smallest-id quantized vectors, either precollected
    // during the base's materialization job (zero extra jobs) or via a
    // TakeOrdered job here — bit-identical seeds
    var cents: Array[Array[Long]] = init.getOrElse(
      qdf.select(col("id"), col("q")).orderBy(col("id"))
        .limit(nlist).as[(Long, Seq[Long])].collect().map(_._2.toArray))
    require(cents.length == nlist, s"corpus smaller than nlist=$nlist")
    val dimLen = cents(0).length
    val qRdd = qdf.select(col("q")).as[Seq[Long]].rdd
    for (_ <- 0 until rounds) {
      val cs = cents
      val (sums, counts) = qRdd.aggregate(
        (Array.fill(nlist)(new Array[Long](dimLen)), new Array[Long](nlist)))(
        seqOp = { case ((s, n), q) =>
          val c = assignIdxInt(q, cs)
          var d = 0
          while (d < dimLen) { s(c)(d) += q(d); d += 1 }
          n(c) += 1
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var c = 0
          while (c < nlist) {
            var d = 0
            while (d < dimLen) { s1(c)(d) += s2(c)(d); d += 1 }
            n1(c) += n2(c)
            c += 1
          }
          (s1, n1)
        })
      cents = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dimLen)(d => math.floor(sums(c)(d).toDouble / counts(c)).toLong)
      }
    }
    cents
  }

  /** Top-`nprobe` nearest centroids by exact integer L2 (tie → lower id). */
  private def probeUdf(cents: Array[Array[Long]], nprobe: Int) =
    udf { (q: Seq[Long]) =>
      cents.indices.map { c =>
        val cv = cents(c)
        var s = 0L
        var d = 0
        while (d < cv.length) { val x = q(d) - cv(d); s += x * x; d += 1 }
        (s, c)
      }.sorted.take(nprobe).map(_._2).toArray
    }

  def ivfKnnPortable(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 8,
      nprobe: Int = 2,
      rounds: Int = 2): DataFrame = {
    val (qdf, dims, _, init) = quantizedBaseCountedInit(corpus, idCol, vecCol, nlist)
    ivfScanInt(qdf, dims, queries, idCol, vecCol, k, nprobe,
      lloydInt(qdf, nlist, rounds, Some(init)))
  }

  /** [[ivfKnnPortable]] with the coarse quantizer trained on a BOUNDED
    * deterministic sample — the production IVF discipline at corpus scale:
    * Lloyd passes over 100 TB of vectors per index build are wasted work
    * (k-means quality saturates at a few·nlist·100 training points, Jégou
    * et al. 2011 §V), so training reads only the `trainRows` smallest
    * md5-ranked ids (SQL-replayable, corpus-order-free) while ASSIGNMENT
    * and probing still cover every corpus vector. Same output contract as
    * [[ivfKnnPortable]]; certified by the q262 oracle which replays the
    * sampled training verbatim. The 50× ScaleDrill measures the point:
    * full-retrain IVF-PQ is the drill's worst scaler (ratio 36× at 50×)
    * because training is per-call; sampling pins the training term. */
  def ivfKnnSampledTrain(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      trainRows: Int,
      nlist: Int = 8,
      nprobe: Int = 2,
      rounds: Int = 2): DataFrame = {
    require(trainRows >= nlist, s"trainRows $trainRows must be >= nlist $nlist")
    val (qdf, dims) = quantizedBase(corpus, idCol, vecCol)
    // TakeOrdered over (md5, id) — model-sized result, no full sort shuffle
    val train = qdf
      .withColumn("__mk", md5(col("id").cast("string")))
      .orderBy(col("__mk"), col("id"))
      .limit(trainRows)
      .drop("__mk")
      .localCheckpoint(true) // each Lloyd round re-reads it
    ivfScanInt(qdf, dims, queries, idCol, vecCol, k, nprobe, lloydInt(train, nlist, rounds))
  }

  /** Shared IVF scan: assign every corpus vector to its nearest (given)
    * centroid, probe the query's `nprobe` nearest lists, exact-cosine rank
    * within candidates. ids + buckets shuffle; raw vectors only move to
    * the candidate join. */
  private def ivfScanInt(
      qdf: DataFrame,
      dims: Int,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      csF: Array[Array[Long]]): DataFrame = {
    val assignF = udf { (q: Seq[Long]) => assignIdxInt(q, csF) }
    val bucketed = qdf.select(col("id").as("neighbor_id"), col("v").as("cv"),
      assignF(col("q")).as("c"))
    ivfRank(bucketed, queries, idCol, vecCol, dims, k, probeUdf(csF, nprobe),
      broadcastQueries = broadcastableQueries(queries, nprobe))
  }

  /** Broadcast the query side of an IVF/PQ probe join only when its
    * PRE-explosion plan-stat size, scaled by the ×nprobe explode it is
    * about to undergo, stays under `spark.graft.ann.queryBroadcastBytes`
    * (default 64 MiB — well under the executor broadcast hard cap with
    * headroom for the qv0/qq payload). The portable kNN entries take
    * UNBOUNDED caller query sets (all-pairs self-kNN passes the corpus
    * itself); those must keep the shuffled join and degrade gracefully
    * instead of hitting the 8 GB broadcast cap / driver OOM. Stored-index
    * probes ([[probeIvfIndex]]/[[probePqIndex]]) keep the FORCED
    * broadcast: query batches there are small by design and the
    * codes-only lists would otherwise win the stats race (measured 29 s
    * vs 0.8 s at the 20× drill). */
  private def broadcastableQueries(queries: DataFrame, nprobe: Int): Boolean = {
    val cap = queries.sparkSession.conf
      .get("spark.graft.ann.queryBroadcastBytes", (64L << 20).toString).toLong
    queries.queryExecution.optimizedPlan.stats.sizeInBytes * nprobe <= BigInt(cap)
  }

  /** Shared IVF probe tail: explode each query's probed list ids, equi-join
    * the (neighbor_id, cv, c) bucket rows, exact-cosine top-k. */
  private def ivfRank(
      bucketed: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int,
      probeF: org.apache.spark.sql.expressions.UserDefinedFunction,
      broadcastQueries: Boolean): DataFrame = {
    val quant = graft.functions.Vectors.fixedPointQuant(1024L)
    val probes = queries
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv0"),
        quant(col(vecCol)).as("qq"))
      .select(col("query_id"), col("qv0"), explode(probeF(col("qq"))).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    // query side broadcast explicitly — never let small table stats flip
    // the build side onto the corpus lists (see probePqIndex). Corpus-scale
    // query sets (broadcastQueries=false) build a shuffled hash join from
    // the probe side instead — same rows, no broadcast hard cap.
    val probeSide = if (broadcastQueries) broadcast(probes)
                    else probes.hint("shuffle_hash")
    bucketed.join(probeSide, Seq("c"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        expr("dot_f32(qv0, cv) / (sqrt(norm2_f32(qv0)) * sqrt(norm2_f32(cv)))"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** PUBLISH a sampled-train IVF index as bucketed tables — the ANN
    * counterpart of [[graft.operators.Dedup.publishLshIndex]]'s
    * amortize-once layout: the corpus is quantized, sample-trained
    * ([[ivfKnnSampledTrain]]'s md5-ranked `trainRows`) and ASSIGNED once;
    * every later probe hashes only its queries and joins the stored lists.
    *
    *   - `<table>_assign` (neighbor_id, cv, c), bucketed by `c`: the
    *     inverted lists — a probe's exploded (query, c) rows join them
    *     co-located, no corpus-side shuffle;
    *   - `<table>_cents` (c, d, cv): nlist×dims rows, model-sized —
    *     probes collect this to rebuild the quantizer;
    *   - `<table>_meta`: (dims, nlist, train_rows, rounds, corpus_fp) —
    *     probe fails fast on a family or corpus mismatch (the
    *     [[Dedup.probeLshIndex]] discipline).
    *
    * Staged commits, the single-writer lease, crash points and recovery:
    * [[graft.sources.IndexStore]]. */
  def publishIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      trainRows: Int,
      nlist: Int = 8,
      rounds: Int = 2,
      buckets: Int = 8,
      corpusFp: String = ""): Unit = {
    require(trainRows >= nlist, s"trainRows $trainRows must be >= nlist $nlist")
    IvfStore.publish(corpus.sparkSession, table) {
      val (qdf, dims) = quantizedBase(corpus, idCol, vecCol)
      val train = qdf
        .withColumn("__mk", md5(col("id").cast("string")))
        .orderBy(col("__mk"), col("id"))
        .limit(trainRows)
        .drop("__mk")
        .localCheckpoint(true)
      val cents = lloydInt(train, nlist, rounds)
      (IvfMeta(dims, nlist, trainRows, rounds, buckets, corpusFp),
        Map("assign" -> ivfRows(qdf, cents), "cents" -> centsFrame(corpus.sparkSession, cents)))
    }
  }

  /** `_assign` rows of a quantized frame under centroids `cents`. */
  private def ivfRows(qdf: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val assignF = udf { (q: Seq[Long]) => assignIdxInt(q, cents) }
    qdf.select(col("id").as("neighbor_id"), col("v").as("cv"), assignF(col("q")).as("c"))
  }

  /** `_assign` rows of a quantized frame: coarse list + `m` PQ codes. */
  private def pqRows(qdf: DataFrame, cents: Array[Array[Long]],
      bks: Array[Array[Array[Long]]], m: Int, sub: Int): DataFrame = {
    val assignF = udf { (q: Seq[Long]) => assignIdxInt(q, cents) }
    val encodeF = udf { (q: Seq[Long]) =>
      Array.tabulate(m)(j => codeOfInt(q, j, sub, bks).toLong)
    }
    qdf.select(col("id").as("neighbor_id"), assignF(col("q")).as("c"),
      encodeF(col("q")).as("cd"))
  }

  private def centsFrame(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    (for { c <- cents.indices; d <- cents(c).indices } yield (c, d, cents(c)(d)))
      .toDF("c", "d", "cv")
  }

  /** The coarse centroids from collected `_cents` rows (c, d, cv). */
  private def centsOf(rows: Array[Row], nlist: Int, dims: Int): Array[Array[Long]] = {
    val cents = Array.fill(nlist)(new Array[Long](dims))
    rows.foreach { r => cents(r.getInt(0))(r.getInt(1)) = r.getLong(2) }
    cents
  }

  /** CROSS-SESSION RECOVERY of a published IVF index — checks the
    * surviving `_meta` file's layout and the epoch directories of
    * `_assign`/`_cents` after a JVM restart; fingerprint-checked when
    * `expectedCorpusFp` is given; ends with the strict audit. Contract:
    * [[graft.sources.IndexStore.recover]]. */
  def recoverIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      expectedCorpusFp: String = null): Unit =
    IvfStore.recover(spark, table, expectedCorpusFp)

  /** [[publishIvfIndex]] only if the tables are absent; an existing index
    * must carry THIS corpus's fingerprint (same silent-wrong-corpus guard
    * as [[Dedup.ensureLshIndex]]) AND the exact published codebook params —
    * a caller that bumps trainRows/nlist/rounds/buckets must NOT be
    * silently served the stale codebook. */
  def ensureIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      trainRows: Int,
      nlist: Int = 8,
      rounds: Int = 2,
      buckets: Int = 8,
      corpusFp: String = ""): Unit =
    IvfStore.ensure(corpus.sparkSession, table, corpusFp, (nlist, trainRows, rounds, buckets))(
      publishIvfIndex(corpus, idCol, vecCol, table, trainRows, nlist, rounds, buckets,
        corpusFp))

  /** PROBE a [[publishIvfIndex]] index: rebuild the quantizer from the
    * model-sized `_cents` table, explode each query's `nprobe` nearest
    * lists, join the stored bucketed assignments (only the query side
    * shuffles), exact-cosine top-k. Identical output to
    * [[ivfKnnSampledTrain]] over the same corpus — two physical forms of
    * one semantics, certified by the q263 oracle. */
  def probeIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      k: Int,
      nprobe: Int = 2,
      corpusFp: String = ""): DataFrame = {
    val s = IvfStore.probeMeta(spark, table, corpusFp)
    val cents = centsOf(IvfStore.rows(spark, table, s, "cents").collect(), s.m.nlist, s.m.dims)
    // stored-index probe: query batches are small by design — FORCE the
    // broadcast (see broadcastableQueries on why the gate lives elsewhere)
    ivfRank(IvfStore.rows(spark, table, s, "assign"),
      queries, idCol, vecCol, s.m.dims, k,
      probeUdf(cents, nprobe), broadcastQueries = true)
  }

  /** APPEND a new batch to a published IVF index — the maintenance path:
    * the batch is quantized and assigned under the index's STORED
    * centroids (read from `_cents`; the quantizer is NOT retrained — the
    * production discipline, where codebooks are versioned artifacts and
    * drift is handled by explicit republish), and the rows are appended to
    * the bucketed `_assign` lists under the stored bucket spec. Because
    * assignment is per-vector deterministic given the centroids,
    * append(publish(A), B) probes identically to publish(A ∪ B) WITH A's
    * training sample — exactly what the q264 oracle replays. Batch ids
    * already present are refused (a duplicate would duplicate its result
    * rows); `newCorpusFp` replaces the stored fingerprint. An EMPTY batch
    * (the quiet ingest tick) only bumps the fingerprint. Staged-commit and
    * single-writer contract: [[graft.sources.IndexStore]]. */
  def appendIvfIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      newCorpusFp: String = ""): Unit =
    IvfStore.append(batch, table, newCorpusFp) { s =>
      val meta = s.m
      // the model collect is pure job latency: overlapped with the quantization
      val (centsRows, (qdf, bdims)) = Par.both(
        IvfStore.rows(batch.sparkSession, table, s, "cents").collect(),
        quantizedBase(batch, idCol, vecCol))
      require(bdims == meta.dims || bdims == 0,
        s"appendIvfIndex: batch dimension $bdims != index '$table' dimension ${meta.dims}")
      val cents = centsOf(centsRows, meta.nlist, meta.dims)
      IndexStore.Batch(() => qdf.select(col("id").as("neighbor_id")),
        () => Map("assign" -> ivfRows(qdf, cents)))
    }

  /** PUBLISH a stored IVF+PQ index — the FAISS-style production artifact:
    * corpus vectors live in the inverted lists as PQ CODES (`m` small
    * ints each), never raw vectors, so at production dims the lists are a
    * small fraction of the corpus bytes and every probe pays ADC lookups
    * instead of vector arithmetic. Training (integer-Lloyd coarse routing
    * + per-subspace integer PQ codebooks, both deterministic) runs over
    * the full corpus exactly as [[ivfPqKnnPortable]]'s does, so
    * publish + [[probePqIndex]] is row-identical to the one-shot composed
    * scan — certified by the q310 oracle (shared verbatim with q111).
    * Tables: `_assign` (neighbor_id, c, cd) bucketed by coarse list id
    * `c` (probes join on it exchange-free); `_cents` / `_books` / `_meta`
    * are model-sized. The corpus row count is stored in `_meta` so the
    * probe's adaptive-ADC choice ([[adcMinCandidates]]) costs nothing at
    * probe time. Lifecycle: [[graft.sources.IndexStore]]. */
  def publishPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      nlist: Int = 8,
      m: Int = 8,
      codes: Int = 16,
      rounds: Int = 2,
      buckets: Int = 8,
      corpusFp: String = ""): Unit = {
    val spark = corpus.sparkSession
    PqStore.publish(spark, table) {
      // one materialization job yields the count AND the smallest-id seed
      // rows for BOTH trainers (nlist for Lloyd, codes for the PQ books)
      val (qdf, dims, nRows, init) =
        quantizedBaseCountedInit(corpus, idCol, vecCol, math.max(nlist, codes))
      require(dims > 0 && dims % m == 0, s"dim $dims not divisible into $m subspaces")
      val sub = dims / m
      // overlapped trainers — see [[trainCoarseAndBooks]]
      val (cents, bks) = trainCoarseAndBooks(qdf, nlist, m, codes, sub, rounds, init)
      import spark.implicits._
      val books = (for { j <- bks.indices; c <- bks(j).indices; d <- bks(j)(c).indices }
        yield (j, c, d, bks(j)(c)(d))).toDF("j", "code", "d", "cv")
      (PqMeta(dims, nlist, m, codes, rounds, buckets, nRows, corpusFp),
        Map("assign" -> pqRows(qdf, cents, bks, m, sub), "cents" -> centsFrame(spark, cents),
          "books" -> books))
    }
  }

  /** CROSS-SESSION RECOVERY of a published IVF+PQ index — see
    * [[graft.sources.IndexStore.recover]]; the PQ strict audit additionally
    * re-proves code arity/range and the `_meta.n_rows` cross-check over the
    * recovered lists. */
  def recoverPqIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      expectedCorpusFp: String = null): Unit =
    PqStore.recover(spark, table, expectedCorpusFp)

  /** [[publishPqIndex]] only if the tables are absent — the amortize-once
    * discipline of [[ensureIvfIndex]]: an existing index must carry THIS
    * corpus's fingerprint AND the exact published codebook params (a
    * caller that bumps nlist/m/codes/rounds/buckets must not be silently
    * served stale codebooks). */
  def ensurePqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      nlist: Int = 8,
      m: Int = 8,
      codes: Int = 16,
      rounds: Int = 2,
      buckets: Int = 8,
      corpusFp: String = ""): Unit =
    PqStore.ensure(corpus.sparkSession, table, corpusFp, (nlist, m, codes, rounds, buckets))(
      publishPqIndex(corpus, idCol, vecCol, table, nlist, m, codes, rounds, buckets,
        corpusFp))

  /** PROBE a [[publishPqIndex]] index: quantize ONLY the batch (the corpus
    * hash/encode work is amortized in the stored tables), route each query
    * to `nprobe` stored coarse lists, rank candidates by exact integer ADC
    * over the STORED codes — raw corpus vectors never touch the probe.
    * Adaptive table-vs-inline ADC exactly as [[ivfPqKnnPortable]] (the
    * stored corpus row count decides; both forms bit-identical). Fails
    * fast on a corpus-fingerprint mismatch. Output: (query_id, rank,
    * neighbor_id, dist). */
  def probePqIndex(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      k: Int,
      nprobe: Int = 2,
      corpusFp: String = ""): DataFrame = {
    val s = PqStore.probeMeta(spark, table, corpusFp)
    val meta = s.m
    val rows = pqModelRows(spark, table, s)
    val (dims, nlist, m, codes) = (meta.dims, meta.nlist, meta.m, meta.codes)
    val sub = dims / m
    val (cents, bksF) = buildPqModels(rows, meta)
    val quant = graft.functions.Vectors.fixedPointQuant(1024L)
    val probeF = probeUdf(cents, nprobe)
    val encoded = PqStore.rows(spark, table, s, "assign")
    val qside = queries
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("query_id"), quant(col(vecCol)).as("qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist").asc, col("neighbor_id").asc)
    val expectedCand = meta.nRows.toDouble * nprobe / math.max(1, nlist)
    // broadcast the QUERY side explicitly: the codes-only lists are so
    // compact that Catalyst's stats would broadcast the CORPUS side and
    // stream the tiny query batch through one task — serializing every
    // candidate's ADC eval on a single core (measured 29 s vs 1.3 s at the
    // 20× drill). At 100 TB the only shape that survives is queries
    // broadcast (batch × nprobe rows), lists streamed in parallel.
    val scored =
      if (expectedCand >= adcMinCandidates(spark).toDouble) {
        val adcTable = adcTableUdf(bksF, m, codes, sub)
        encoded
          .join(broadcast(qside.select(col("query_id"),
            adcTable(col("qq")).as("__adc"),
            explode(probeF(col("qq"))).as("c"))), Seq("c"))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("dist", adcLookupCol(col("__adc"), col("cd"), m, codes))
      } else {
        val adc = adcInlineUdf(bksF, m, sub)
        encoded
          .join(broadcast(qside.select(col("query_id"), col("qq"),
            explode(probeF(col("qq"))).as("c"))), Seq("c"))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("dist", adc(col("qq"), col("cd")))
      }
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** APPEND a new batch to a published IVF+PQ index — the maintenance path
    * of [[publishPqIndex]]. The batch is quantized, ROUTED under the
    * index's STORED centroids and ENCODED under its STORED PQ codebooks
    * (NEITHER is retrained — appended codes are only comparable under the
    * SAME books, so codebook drift is handled by explicit republish, never
    * silently). Because routing and encoding are per-vector deterministic
    * given the models, append(publish(A), B) probes identically to a
    * one-shot composed IVF+PQ scan over A ∪ B trained on A — exactly what
    * the q311 oracle replays. Batch ids already present are refused; the
    * commit bumps the stored corpus row count (keeping [[probePqIndex]]'s
    * adaptive-ADC choice honest post-append) and sets `newCorpusFp`.
    * Staged-commit and single-writer contract: [[graft.sources.IndexStore]]. */
  def appendPqIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      newCorpusFp: String = ""): Unit =
    PqStore.append(batch, table, newCorpusFp) { s =>
      val meta = s.m
      val (rows, (qdf, bdims, bN)) = Par.both(pqModelRows(batch.sparkSession, table, s),
        quantizedBaseCounted(batch, idCol, vecCol))
      require(bdims == meta.dims || bdims == 0,
        s"appendPqIndex: batch dimension $bdims != index '$table' dimension ${meta.dims}")
      val (cents, bks) = buildPqModels(rows, meta)
      IndexStore.Batch(() => qdf.select(col("id").as("neighbor_id")),
        () => Map("assign" -> pqRows(qdf, cents, bks, meta.m, meta.dims / meta.m)),
        (pm: PqMeta) => pm.copy(nRows = pm.nRows + bN))
    }

  /** The `_cents` and `_books` rows of a stored PQ index, collected
    * overlapped: each is a tiny single-bucket scan whose cost is pure job
    * latency. */
  private def pqModelRows(spark: org.apache.spark.sql.SparkSession, table: String,
      s: IndexStore.Stored[PqMeta]): (Array[Row], Array[Row]) =
    Par.both(PqStore.rows(spark, table, s, "cents").collect(),
      PqStore.rows(spark, table, s, "books").collect())

  /** Assemble the driver-side PQ model arrays from the collected rows. */
  private def buildPqModels(
      rows: (Array[Row], Array[Row]),
      meta: PqMeta): (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val bks = Array.fill(meta.m, meta.codes)(new Array[Long](meta.dims / meta.m))
    rows._2.foreach { r =>
      bks(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3)
    }
    (centsOf(rows._1, meta.nlist, meta.dims), bks)
  }

  /** Consistency audit over a published IVF+PQ index — the PQ analogue of
    * [[assertIvfIndexConsistent]]. Cheap form: every inverted-list row
    * routes to a legal coarse list (0 ≤ c < nlist). Strict (the
    * maintenance-window form, run post-compaction) proves FOUR invariants
    * in ONE aggregation over `_assign`: routing range, id uniqueness
    * (a duplicated id would duplicate probe result rows), code-array
    * arity (every `cd` has exactly `m` codes — a torn write or schema
    * drift shows up here), and code range (every code in [0, `codes`) —
    * an out-of-range code would silently read a wrong codebook row at ADC
    * time). Additionally cross-checks `_meta.n_rows` against the list
    * count — the adaptive-ADC choice reads it, so a stale count after a
    * mangled append is a real (if soft) corruption. */
  def assertPqIndexConsistent(spark: org.apache.spark.sql.SparkSession,
      table: String, strict: Boolean = false): Unit =
    PqStore.assertConsistent(spark, table, strict)

  /** COMPACT an append-maintained IVF+PQ index: rewrite the codes-only
    * `_assign` inverted lists at the STORED bucket spec — rows, models,
    * and fingerprint unchanged, so probes before and after are
    * row-identical (q312's oracle, shared with q311). The STRICT audit
    * runs after the flip ([[graft.sources.IndexStore.compact]]). */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    PqStore.compact(spark, table)

  /** Self-serve maintenance report for a stored IVF index (committed vs
    * orphan rows/epochs in the inverted lists + data-file count) — see
    * [[graft.sources.IndexStore.describe]] /
    * [[graft.operators.Dedup.describeLshIndex]]. */
  def describeIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    IvfStore.describe(spark, table)

  /** [[describeIvfIndex]] for a stored IVF+PQ index. */
  def describePqIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    PqStore.describe(spark, table)

  /** Consistency audit over a published IVF index — the [[graft.operators.Dedup.assertLshIndexConsistent]]
    * analogue. Cheap form: every inverted-list row routes to a legal
    * centroid (0 ≤ c < nlist) — one agg over the `c` projection. Strict
    * adds the per-doc invariant: `neighbor_id` is unique across `_assign`
    * (a duplicated id would duplicate probe result rows; the append-time
    * guard enforces this at the seam, the strict audit re-proves it over
    * the stored table) — one aggregation proves both. */
  def assertIvfIndexConsistent(spark: org.apache.spark.sql.SparkSession,
      table: String, strict: Boolean = false): Unit =
    IvfStore.assertConsistent(spark, table, strict)

  /** COMPACT an append-maintained IVF index: rewrite the `_assign`
    * inverted lists at the STORED bucket spec — rows, centroids, and
    * fingerprint unchanged, so probes before and after are row-identical
    * (q277's oracle, shared with q263/q264). The `_cents` table and the
    * `_meta` file are model-sized and never appended, so only the lists
    * compact; the STRICT audit runs after the flip
    * ([[graft.sources.IndexStore.compact]]). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    IvfStore.compact(spark, table)

  /** The IVF/PQ audit over the committed `_assign` lists (see
    * [[assertIvfIndexConsistent]] / [[assertPqIndexConsistent]]); `pq`
    * carries (m, codes, n_rows) for the PQ-only invariants. */
  private def auditLists(table: String, title: String, nlist: Int, assign: DataFrame,
      strict: Boolean, pq: Option[(Int, Int, Long)]): Unit = {
    val badRoute = col("c") < 0 || col("c") >= nlist
    def corrupt(what: String) =
      s"${title.toUpperCase} index '$table' is corrupt: $what — republish via " +
        s"publish${title}Index"
    if (!strict) {
      val badC = assign.where(badRoute).count()
      require(badC == 0L, corrupt(s"$badC rows route outside [0, $nlist)"))
    } else {
      // NULL cd short-circuits to corrupt FIRST: size(NULL)/exists(NULL)
      // evaluate to NULL, which otherwise(0) would silently pass — the
      // exact torn-write shape the strict audit is advertised to catch
      val badCd = pq.map { case (m, codes, _) =>
        sum(when(col("cd").isNull || size(col("cd")) =!= m ||
          exists(col("cd"), x => x < 0L || x >= codes.toLong), 1L).otherwise(0L))
      }.getOrElse(lit(0L))
      val r = assign.agg(
        count(lit(1)).as("rows"),
        countDistinct(col("neighbor_id")).as("ids"),
        sum(when(badRoute, 1L).otherwise(0L)).as("badc"),
        badCd.as("badcd"))
        .head()
      def orZero(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      val (rows, ids) = (r.getLong(0), r.getLong(1))
      require(orZero(2) == 0L, corrupt(s"${orZero(2)} rows route outside [0, $nlist)"))
      pq.foreach { case (m, codes, _) =>
        require(orZero(3) == 0L, corrupt(s"${orZero(3)} rows carry a code array that " +
          s"is not exactly $m codes in [0, $codes)"))
      }
      require(ids == rows, corrupt(s"$rows list rows over $ids distinct ids " +
        "(duplicated ids would duplicate probe results)"))
      pq.foreach { case (_, _, nRows) =>
        require(rows == nRows, corrupt(s"_meta.n_rows=$nRows but the lists hold $rows " +
          "rows — the adaptive-ADC plan choice would read a stale count"))
      }
    }
  }

  /** Typed `_meta` row of a stored IVF index. */
  final case class IvfMeta(
      dims: Int, nlist: Int, trainRows: Int, rounds: Int, buckets: Int, corpusFp: String,
      eps: Seq[Long] = Seq(0L), nextEp: Long = 1L) extends IndexMeta[IvfMeta] {
    def withEpochs(corpusFp: String, eps: Seq[Long], nextEp: Long): IvfMeta =
      copy(corpusFp = corpusFp, eps = eps, nextEp = nextEp)
  }

  /** Typed `_meta` row of a stored IVF+PQ index. */
  final case class PqMeta(
      dims: Int, nlist: Int, m: Int, codes: Int, rounds: Int, buckets: Int, nRows: Long,
      corpusFp: String, eps: Seq[Long] = Seq(0L), nextEp: Long = 1L)
      extends IndexMeta[PqMeta] {
    def withEpochs(corpusFp: String, eps: Seq[Long], nextEp: Long): PqMeta =
      copy(corpusFp = corpusFp, eps = eps, nextEp = nextEp)
  }

  private val assignTable = IndexStore.Table("assign", "c", epochGated = true)
  private val centsTable = IndexStore.Table("cents", "c", epochGated = false)

  /** The IVF family of [[graft.sources.IndexStore]]: epoch-gated `_assign`
    * lists plus the model-sized `_cents`. */
  private[graft] object IvfStore extends IndexStore[IvfMeta]("ivf", "Ivf",
      Seq(assignTable, centsTable), idTable = "assign", idCol = "neighbor_id")(
      Encoders.product[IvfMeta]) {
    def params(m: IvfMeta): Product = (m.nlist, m.trainRows, m.rounds, m.buckets)
    val paramNames = "(nlist, train_rows, rounds, buckets)"
    // audit what probes SEE: uncommitted epochs are invisible by design
    def audit(spark: org.apache.spark.sql.SparkSession, table: String,
        s: IndexStore.Stored[IvfMeta], strict: Boolean): Unit =
      auditLists(table, "Ivf", s.m.nlist, rows(spark, table, s, "assign"), strict, pq = None)
  }

  /** The IVF+PQ family of [[graft.sources.IndexStore]]: epoch-gated
    * codes-only `_assign` lists plus the model-sized `_cents` and `_books`. */
  private[graft] object PqStore extends IndexStore[PqMeta]("pq", "Pq",
      Seq(assignTable, centsTable, IndexStore.Table("books", "j", epochGated = false)),
      idTable = "assign", idCol = "neighbor_id")(Encoders.product[PqMeta]) {
    def params(m: PqMeta): Product = (m.nlist, m.m, m.codes, m.rounds, m.buckets)
    val paramNames = "(nlist, m, codes, rounds, buckets)"
    def audit(spark: org.apache.spark.sql.SparkSession, table: String,
        s: IndexStore.Stored[PqMeta], strict: Boolean): Unit =
      auditLists(table, "Pq", s.m.nlist, rows(spark, table, s, "assign"), strict,
        pq = Some((s.m.m, s.m.codes, s.m.nRows)))
  }

  /** SQL-PORTABLE product quantization: the fixed-point treatment of
    * [[ivfKnnPortable]] applied per SUBSPACE. Vectors quantize to
    * floor(v·2^10); each of the `m` subspaces k-means its integer
    * sub-slices (exact distances, tie → lower code, order-free sums,
    * floor-mean updates, empty cluster keeps its code vector); the ADC
    * scan ranks candidates by the exact INTEGER distance
    * Σ_j ‖q_j − codebook[j][code_j(x)]‖² (tie → lower neighbor id). Every
    * step replays verbatim in SQL — float PQ ([[pqTrain]]/[[pqKnn]])
    * stays the production path, rows-only-checkable. Training is `rounds`
    * narrow treeAggregate passes (m×k×subDim longs to the driver).
    * Output: (query_id, rank, neighbor_id, dist). */
  /** Exact-integer argmin-L2 over subspace `j`'s codebook (tie → lower
    * code). */
  private def codeOfInt(
      q: Seq[Long], j: Int, sub: Int, bks: Array[Array[Array[Long]]]): Int = {
    val codes = bks(j).length
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < codes) {
      val cv = bks(j)(c)
      var s = 0L
      var d = 0
      while (d < sub) { val x = q(j * sub + d) - cv(d); s += x * x; d += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Fixed-point PQ codebook training shared by the portable PQ entries:
    * codebook[j][c] initializes to sub-slice j of the c-th smallest-id
    * quantized vector; each round is one single-stage aggregate pass
    * (m×codes×sub longs to the driver; see [[lloydInt]] on why not
    * treeAggregate), floor-mean updates, empty codes keep their
    * vector. */
  /** Train the coarse quantizer ([[lloydInt]]) and the PQ codebooks
    * ([[pqBooksInt]]) CONCURRENTLY over the same materialized base: the two
    * trainers are independent given `qdf` (each is `rounds` sequential
    * narrow aggregate jobs over cached checkpoint blocks), so overlapping
    * them ([[Par.both]]) halves the training-phase job latency every
    * IVF+PQ entry pays (one-shot q111 and publishPqIndex/q310-q312 both).
    * Results are the exact arrays the sequential form produced — each
    * trainer is deterministic and they share no mutable state. */
  private def trainCoarseAndBooks(qdf: DataFrame, nlist: Int, m: Int,
      codes: Int, sub: Int, rounds: Int, init: Array[Array[Long]])
      : (Array[Array[Long]], Array[Array[Array[Long]]]) =
    Par.both(lloydInt(qdf, nlist, rounds, Some(init.take(nlist))),
      pqBooksInt(qdf, m, codes, sub, rounds, Some(init.take(codes))))

  private def pqBooksInt(
      qdf: DataFrame, m: Int, codes: Int, sub: Int, rounds: Int,
      initRows: Option[Array[Array[Long]]] = None): Array[Array[Array[Long]]] = {
    import qdf.sparkSession.implicits._
    val init = initRows.getOrElse(
      qdf.select(col("id"), col("q")).orderBy(col("id")).limit(codes)
        .as[(Long, Seq[Long])].collect().map(_._2.toArray))
    require(init.length == codes, s"corpus smaller than codes=$codes")
    var books: Array[Array[Array[Long]]] =
      Array.tabulate(m, codes)((j, c) => init(c).slice(j * sub, (j + 1) * sub))
    val qRdd = qdf.select(col("q")).as[Seq[Long]].rdd
    for (_ <- 0 until rounds) {
      val bks = books
      val (sums, counts) = qRdd.aggregate(
        (Array.fill(m, codes)(new Array[Long](sub)), Array.fill(m, codes)(0L)))(
        seqOp = { case ((s, n), q) =>
          var j = 0
          while (j < m) {
            val c = codeOfInt(q, j, sub, bks)
            var d = 0
            while (d < sub) { s(j)(c)(d) += q(j * sub + d); d += 1 }
            n(j)(c) += 1
            j += 1
          }
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var j = 0
          while (j < m) {
            var c = 0
            while (c < codes) {
              var d = 0
              while (d < sub) { s1(j)(c)(d) += s2(j)(c)(d); d += 1 }
              n1(j)(c) += n2(j)(c)
              c += 1
            }
            j += 1
          }
          (s1, n1)
        })
      books = Array.tabulate(m, codes) { (j, c) =>
        if (counts(j)(c) == 0) books(j)(c)
        else Array.tabulate(sub)(d => math.floor(sums(j)(c)(d).toDouble / counts(j)(c)).toLong)
      }
    }
    books
  }

  /** Per-candidate expected row count above which the per-query ADC table
    * beats the inline subtract form (both are bit-identical integer sums —
    * plan choice never changes results). The trade, measured: the table
    * hoists the m×sub arithmetic out of the candidate row into `m`
    * `element_at` lookups, but the joined row then carries m×codes longs
    * (128 at the defaults) instead of the dims-long quantized vector (64)
    * — ~2× the per-candidate copy. At sf0.1 (2000 candidates/query) the
    * inline form measured 968 ms vs 1491 ms for the table on q104; at the
    * 50× drill (~25k candidates/query) the table turned `ivfpq_probe`'s
    * 38.3× scale ratio into 1.92×. The default threshold sits between the
    * two measured regimes; override with `spark.graft.adc.minCandidates`. */
  private def adcMinCandidates(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.adc.minCandidates", "4096").toLong

  /** INLINE exact integer ADC distance Σⱼ Σ_d (qq[j·sub+d] − books[cdⱼ][d])²
    * — the small-candidate form of the [[adcTableUdf]]+[[adcLookupCol]]
    * pair: same integer sum term-by-term, so results (and oracle hashes)
    * are bit-identical whichever the plan picks. */
  private def adcInlineUdf(bks: Array[Array[Array[Long]]], m: Int, sub: Int) =
    udf { (qq: Seq[Long], cd: Seq[Long]) =>
      var s = 0L
      var j = 0
      while (j < m) {
        val cv = bks(j)(cd(j).toInt)
        var d = 0
        while (d < sub) { val x = qq(j * sub + d) - cv(d); s += x * x; d += 1 }
        j += 1
      }
      s
    }

  /** Per-QUERY ADC lookup table (Jégou's asymmetric distance computation):
    * tbl[j·codes + c] = Σ_d (q_{j,d} − codebook[j][c][d])², computed ONCE
    * per query row (m×codes cells) so the per-candidate distance collapses
    * to `m` table lookups ([[adcLookupCol]]) instead of m×sub subtract/
    * multiply — the candidate side is |queries|×|bucket| rows, the table
    * side only |queries|, so the hoisted work is the probe's hot term. */
  private def adcTableUdf(bks: Array[Array[Array[Long]]], m: Int, codes: Int, sub: Int) =
    udf { (qq: Seq[Long]) =>
      val tbl = new Array[Long](m * codes)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < codes) {
          val cv = bks(j)(c)
          var s = 0L
          var d = 0
          while (d < sub) { val x = qq(j * sub + d) - cv(d); s += x * x; d += 1 }
          tbl(j * codes + c) = s
          c += 1
        }
        j += 1
      }
      tbl
    }

  /** Exact integer ADC distance Σⱼ tbl[j·codes + code_j] as a NATIVE
    * unrolled `element_at` sum — same integer sum as the inline form,
    * factored through [[adcTableUdf]]'s per-query table, so results (and
    * oracle hashes) are bit-identical. Native matters here: the candidate
    * side is |queries|×|bucket| rows, and a scala UDF would pay a
    * catalyst→JVM conversion of BOTH arrays (m×codes + m elements) per
    * candidate — the unrolled expression stays in whole-stage codegen and
    * reads the arrays in place. */
  private def adcLookupCol(tbl: org.apache.spark.sql.Column,
      cd: org.apache.spark.sql.Column, m: Int, codes: Int): org.apache.spark.sql.Column =
    (0 until m).map { j =>
      element_at(tbl, (element_at(cd, j + 1) + lit(j.toLong * codes)).cast("int") + 1)
    }.reduce(_ + _)

  def pqKnnPortable(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      codes: Int = 16,
      rounds: Int = 2): DataFrame = {
    val (qdf, dims, nCorpus, init) =
      quantizedBaseCountedInit(corpus, idCol, vecCol, codes)
    require(dims > 0 && dims % m == 0, s"dim $dims not divisible into $m subspaces")
    val sub = dims / m
    val quant = graft.functions.Vectors.fixedPointQuant(1024L)
    val bksF = pqBooksInt(qdf, m, codes, sub, rounds, Some(init))
    val encodeF = udf { (q: Seq[Long]) =>
      Array.tabulate(m)(j => codeOfInt(q, j, sub, bksF).toLong)
    }
    val encoded = qdf.select(col("id").as("neighbor_id"), encodeF(col("q")).as("cd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist").asc, col("neighbor_id").asc)
    // adaptive ADC (see [[adcMinCandidates]]): the cross-join gives every
    // query the whole corpus as candidates, so the table pays off exactly
    // when the corpus clears the threshold — both forms bit-identical
    val qside = queries
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("query_id"), quant(col(vecCol)).as("qq"))
    val scored =
      if (nCorpus >= adcMinCandidates(corpus.sparkSession)) {
        val adcTable = adcTableUdf(bksF, m, codes, sub)
        qside.select(col("query_id"), adcTable(col("qq")).as("__adc"))
          .crossJoin(encoded)
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("dist", adcLookupCol(col("__adc"), col("cd"), m, codes))
      } else {
        val adc = adcInlineUdf(bksF, m, sub)
        qside.crossJoin(encoded)
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("dist", adc(col("qq"), col("cd")))
      }
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** SQL-PORTABLE IVF+PQ — the composed FAISS-style production index
    * ([[ivfPqKnn]]) in the fixed-point treatment: integer-Lloyd coarse
    * routing ([[lloydInt]]) narrows candidates to `nprobe` buckets, exact
    * integer ADC over PQ codes ([[pqBooksInt]], trained on the raw
    * quantized vectors) ranks them (ties → lower neighbor id). Every step
    * replays verbatim in SQL, so the whole composed index is
    * hash-verifiable; the float ivfPqKnn keeps its spec coverage.
    * Output: (query_id, rank, neighbor_id, dist). */
  def ivfPqKnnPortable(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      codes: Int = 16,
      rounds: Int = 2): DataFrame = {
    val (qdf, dims, nCorpus, init) =
      quantizedBaseCountedInit(corpus, idCol, vecCol, math.max(nlist, codes))
    require(dims > 0 && dims % m == 0, s"dim $dims not divisible into $m subspaces")
    val sub = dims / m
    val quant = graft.functions.Vectors.fixedPointQuant(1024L)
    // the coarse quantizer and the PQ codebooks train INDEPENDENTLY over
    // the same materialized base — overlap their per-round aggregate jobs
    // (sequential they cost 2×rounds job latencies; overlapped, rounds)
    val (cents, bksF) = trainCoarseAndBooks(qdf, nlist, m, codes, sub, rounds, init)
    val assignF = udf { (q: Seq[Long]) => assignIdxInt(q, cents) }
    val probeF = probeUdf(cents, nprobe)
    val encodeF = udf { (q: Seq[Long]) =>
      Array.tabulate(m)(j => codeOfInt(q, j, sub, bksF).toLong)
    }
    // corpus side: ONE pass assigns the coarse bucket and the PQ code row;
    // candidates materialize as an equi-join on bucket id — ids and codes
    // (m bytes-worth) shuffle, never raw vectors. Adaptive ADC (see
    // [[adcMinCandidates]]): a probe's expected candidates-per-query is
    // corpus/nlist per probed bucket × nprobe; above the threshold the
    // query side carries its per-query ADC table (m×codes longs) and
    // candidates pay `m` lookups, below it the raw quantized vector rides
    // along and candidates pay the inline subtract — bit-identical sums.
    val encoded = qdf.select(col("id").as("neighbor_id"),
      assignF(col("q")).as("c"), encodeF(col("q")).as("cd"))
    val qside = queries
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).cast("long").as("query_id"), quant(col(vecCol)).as("qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist").asc, col("neighbor_id").asc)
    val expectedCand = nCorpus.toDouble * nprobe / math.max(1, nlist)
    val scored =
      if (expectedCand >= adcMinCandidates(corpus.sparkSession).toDouble) {
        val adcTable = adcTableUdf(bksF, m, codes, sub)
        qside.select(col("query_id"), adcTable(col("qq")).as("__adc"),
            explode(probeF(col("qq"))).as("c"))
          .join(encoded, Seq("c"))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("dist", adcLookupCol(col("__adc"), col("cd"), m, codes))
      } else {
        val adc = adcInlineUdf(bksF, m, sub)
        qside.select(col("query_id"), col("qq"), explode(probeF(col("qq"))).as("c"))
          .join(encoded, Seq("c"))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("dist", adc(col("qq"), col("cd")))
      }
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** Product-quantization codebooks (Jégou-Douze-Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * L2-normalized vector into `m` subspaces and k-means each to `k`
    * centroids. Training is `iters` Lloyd rounds, each ONE narrow
    * treeAggregate pass (no explode, no shuffle): sub-codes assign and
    * (subspace × code × dim) double sums accumulate inside partitions and
    * combine on executors — the driver receives O(m×k×subDim) regardless
    * of partition count. Init from the `k` smallest-id vectors, fixed
    * round count; float-sum combine order caveat as [[kmeansCentroids]].
    * Returns codebooks[m][k][subDim]. */
  def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int = 2): Array[Array[Array[Float]]] = {
    import corpus.sparkSession.implicits._
    val dims = corpus.select(size(col(vecCol))).head.getInt(0)
    require(dims % m == 0, s"dim $dims not divisible into $m subspaces")
    val sub = dims / m
    val init = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy("id").limit(k).as[(Long, Seq[Float])].collect().map(_._2.toArray)
    require(init.length == k, s"corpus smaller than k=$k")
    var books: Array[Array[Array[Float]]] = Array.tabulate(m, k) {
      (j, c) => normalize(init(c)).slice(j * sub, (j + 1) * sub)
    }
    // every round re-reads the vectors — materialize the projection once
    val vRdd = corpus.select(col(vecCol).as("v"))
      .localCheckpoint(true).as[Seq[Float]].rdd
    for (_ <- 1 to iters) {
      val bks = books
      val (sums, counts) = vRdd.treeAggregate(
        (Array.fill(m, k)(new Array[Double](sub)),
          Array.fill(m, k)(new Array[Long](sub))))(
        seqOp = { case ((s, n), v0) =>
          val v = normalize(if (v0 == null) Array.empty[Float] else v0.toArray)
          var j = 0
          while (j < m) {
            val c = nearestSubCode(v, bks, sub, j)
            var t = 0
            while (t < sub && j * sub + t < v.length) {
              s(j)(c)(t) += v(j * sub + t); n(j)(c)(t) += 1; t += 1
            }
            j += 1
          }
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var j = 0
          while (j < m) {
            var c = 0
            while (c < k) {
              var t = 0
              while (t < sub) {
                s1(j)(c)(t) += s2(j)(c)(t); n1(j)(c)(t) += n2(j)(c)(t); t += 1
              }
              c += 1
            }
            j += 1
          }
          (s1, n1)
        })
      val next = books.map(_.map(_.clone()))
      for (j <- 0 until m; c <- 0 until k; t <- 0 until sub)
        if (counts(j)(c)(t) > 0) next(j)(c)(t) = (sums(j)(c)(t) / counts(j)(c)(t)).toFloat
      books = next
    }
    books
  }

  /** Shared argmin-L2 over subspace `j`'s codebook — single source of truth
    * for training assignment and encoding (tie → lower code). */
  private def nearestSubCode(
      v: Array[Float], books: Array[Array[Array[Float]]], sub: Int, j: Int): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < books(j).length) {
      val cb = books(j)(c)
      var d = 0.0; var t = 0
      while (t < cb.length && j * sub + t < v.length) {
        val diff = v(j * sub + t) - cb(t); d += diff * diff; t += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  /** Compiled sub-code assignment: argmin L2 per subspace over the
    * codebook, emitted as (subspace, code) structs. */
  private def pqEncodeUdf(books: Array[Array[Array[Float]]], sub: Int) =
    udf { (v0: Seq[Float]) =>
      val v = normalize(if (v0 == null) Array.empty[Float] else v0.toArray)
      books.indices.map(j => (j, nearestSubCode(v, books, sub, j))).toArray
    }

  /** PQ ANN search by Asymmetric Distance Computation: corpus vectors are
    * replaced by m byte codes (16-64× smaller than raw floats — the table
    * that scans at 100 TB); each query precomputes an m×k table of subspace
    * dot products against the codebooks and scores a corpus row with m
    * table lookups in a compiled kernel. Approximate; rows-only checked +
    * recall-spec'd like IVF. Output: (query_id, rank, neighbor_id, cosine_pq). */
  def pqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      kCentroids: Int = 16,
      iters: Int = 2): DataFrame = {
    val books = pqTrain(corpus, idCol, vecCol, m, kCentroids, iters)
    val dims = books.length * books(0)(0).length
    val sub = dims / m
    val encode = pqEncodeUdf(books, sub)
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      transform(encode(col(vecCol)), s => s("_2")).as("code"))
    // per-query ADC tables, built once on the driver (m×k doubles per query)
    import corpus.sparkSession.implicits._
    val qRows = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])].collect()
    val tables: Array[(Long, Array[Array[Double]])] = qRows.map { case (qid, qv) =>
      val q = normalize(qv.toArray)
      qid -> books.indices.map { j =>
        books(j).map { cb =>
          var d = 0.0; var t = 0
          while (t < cb.length && j * sub + t < q.length) {
            d += q(j * sub + t).toDouble * cb(t); t += 1
          }
          d
        }
      }.toArray
    }
    val bc = corpus.sparkSession.sparkContext.broadcast(tables)
    val score = udf { (code: Seq[Int]) =>
      bc.value.map { case (qid, table) =>
        var s = 0.0; var j = 0
        while (j < code.length) { s += table(j)(code(j)); j += 1 }
        (qid, s)
      }
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_pq").desc, col("neighbor_id").asc)
    codes.select(col("neighbor_id"), explode(score(col("code"))).as("qs"))
      .select(col("neighbor_id"), col("qs._1").as("query_id"),
        round(col("qs._2"), 6).as("cosine_pq"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_pq"))
  }

  /** IVF+PQ — the production ANN index shape (FAISS IVFPQ): coarse k-means
    * routing prunes the corpus to `nprobe`/`nlist` of its buckets, and
    * within the probed buckets rows are scored by ADC over their PQ codes —
    * the scan touches bucket ids and byte codes only, never raw vectors.
    * Query tables are built driver-side (query-set × m×k doubles — the
    * query set is broadcast-sized by contract, as in [[bruteForceKnn]]).
    * Approximate on two axes (routing recall × quantization error);
    * rows-only checked + cluster-exactness spec like [[pqKnn]]. */
  def ivfPqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 8,
      nprobe: Int = 3,
      m: Int = 8,
      kCentroids: Int = 16,
      iters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nlist, iters)
    val books = pqTrain(corpus, idCol, vecCol, m, kCentroids, iters)
    val sub = books(0)(0).length
    val encode = pqEncodeUdf(books, sub)
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      Vectors.nearestCentroids(cents, 1)(col(vecCol))(0).as("bucket"),
      transform(encode(col(vecCol)), s => s("_2")).as("code"))

    // driver-side per-query routing + ADC tables, regrouped by bucket so a
    // corpus row only ever scores the queries probing its bucket
    import corpus.sparkSession.implicits._
    val qRows = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])].collect()
    val centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val byBucket: Map[Long, Array[(Long, Array[Array[Double]])]] = qRows.flatMap {
      case (qid, qv) =>
        val q = normalize(qv.toArray)
        val table = books.indices.map { j =>
          books(j).map { cb =>
            var d = 0.0; var t = 0
            while (t < cb.length && j * sub + t < q.length) {
              d += q(j * sub + t).toDouble * cb(t); t += 1
            }
            d
          }
        }.toArray
        // nprobe nearest coarse centroids by cosine (sim desc, id asc)
        val sims = cents.indices.map { c =>
          var dot = 0.0; var t = 0
          val n = math.min(q.length, cents(c).length)
          while (t < n) { dot += q(t).toDouble * cents(c)(t); t += 1 }
          if (centNorms(c) == 0) -2.0 else dot / centNorms(c)
        }
        cents.indices.sortBy(c => (-sims(c), c)).take(nprobe)
          .map(b => (b.toLong, (qid, table)))
    }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toArray }
    val bc = corpus.sparkSession.sparkContext.broadcast(byBucket)

    val score = udf { (bucket: Long, code: Seq[Int]) =>
      bc.value.getOrElse(bucket, Array.empty[(Long, Array[Array[Double]])]).map {
        case (qid, table) =>
          var s = 0.0; var j = 0
          while (j < code.length) { s += table(j)(code(j)); j += 1 }
          (qid, s)
      }
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_pq").desc, col("neighbor_id").asc)
    codes.select(col("neighbor_id"), explode(score(col("bucket"), col("code"))).as("qs"))
      .select(col("neighbor_id"), col("qs._1").as("query_id"),
        round(col("qs._2"), 6).as("cosine_pq"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_pq"))
  }

  /** IVF search against explicit centroid vectors (bucket id = index) —
    * pair with [[kmeansCentroids]] for trained buckets. */
  def ivfKnnWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[Array[Float]],
      nprobe: Int = 2): DataFrame = {
    // Compiled assignment kernel: one JVM call per row against the captured
    // centroid model (round-1 lesson: nested HOF argmax is interpreted and
    // was the IVF hot-spot).
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(call_function("norm2_f32", col(vecCol))).as("cn"))
      .where(col("cn") > 0) // NaN cosine guard, as in bruteForceKnn
      .withColumn("bucket", Vectors.nearestCentroids(centroids, 1)(col("cv"))(0))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(call_function("norm2_f32", col(vecCol))).as("qn"))
      .where(col("qn") > 0)
      .withColumn("bucket", explode(Vectors.nearestCentroids(centroids, nprobe)(col("qv"))))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", call_function("dot_f32", col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Fixed-point covariance statistics of an embedding column in ONE
    * narrow treeAggregate pass — the PCA/whitening precursor of embedding
    * diagnostics (which dimensions are dead, which correlate). Vectors
    * quantize to integers (floor(v·2^10), the q123-q125 convention), so
    * the per-pair product sums Σxᵢxⱼ, the marginals Σxᵢ and n are exact
    * longs — order-free, hash-portable. The SUFFICIENT STATISTICS are the
    * output (cov(i,j) = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/(n−1)/scale² is a trivial
    * driver-side presentation step): emitting integers keeps every value
    * engine-exact, and Σxᵢxⱼ ≤ n·scale² stays in range far beyond 10⁹
    * rows, where the n·Σxᵢxⱼ − ΣxᵢΣxⱼ numerator would overflow.
    *
    * Scale shape: d(d+1)/2 + d longs per partition to the driver; the
    * data itself never shuffles and is read once. Output: (i, j, sxy,
    * sx_i, sx_j, n) for 0-based i <= j. */
  def covarianceMatrix(
      corpus: DataFrame,
      vecCol: String,
      scale: Long = 1024L): DataFrame = {
    import corpus.sparkSession.implicits._
    val quant = graft.functions.Vectors.fixedPointQuant(scale)
    val dims = graft.functions.Vectors.dominantDim(corpus, vecCol)
    require(dims > 0, "covarianceMatrix: empty corpus or null vectors")
    val vecs = corpus
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(quant(col(vecCol))).as[Seq[Long]].rdd
    val d = dims
    val nPairs = d * (d + 1) / 2
    val (sxy, sx, n) = vecs.treeAggregate(
      (new Array[Long](nPairs), new Array[Long](d), 0L))(
      seqOp = { case ((sxy, sx, n), v) =>
        var idx = 0
        var i = 0
        while (i < d) {
          sx(i) += v(i)
          var j = i
          while (j < d) { sxy(idx) += v(i) * v(j); idx += 1; j += 1 }
          i += 1
        }
        (sxy, sx, n + 1)
      },
      combOp = { case ((a1, b1, n1), (a2, b2, n2)) =>
        var x = 0
        while (x < nPairs) { a1(x) += a2(x); x += 1 }
        var y = 0
        while (y < d) { b1(y) += b2(y); y += 1 }
        (a1, b1, n1 + n2)
      })
    val rows = {
      var idx = 0
      for (i <- 0 until d; j <- i until d) yield {
        val r = (i, j, sxy(idx), sx(i), sx(j), n)
        idx += 1
        r
      }
    }
    corpus.sparkSession.createDataFrame(rows)
      .toDF("i", "j", "sxy", "sx_i", "sx_j", "n")
  }
  /** Reciprocal-rank fusion (Cormack-Clarke-Buettcher) of two rankings of
    * the same id space — the standard zero-tuning way to combine retrieval
    * signals (BM25 + embedding ANN, recency + quality). Score is kept
    * exact-integer: contribution = 10\u2076 DIV (k + rank), summed over the
    * lists an id appears in (full-outer union semantics — ids missing from
    * one list simply contribute nothing from it), so the fused ordering is
    * engine-portable with no float accumulation. Output: topN by
    * (rrf_u desc, id) — id, rank_a, rank_b, rrf_u.
    *
    * Each input carries (idCol, rankCol) with 1-based ranks, typically
    * from [[graft.operators.OrderedScan.rowNumber]] so building the
    * rankings never single-tasks; the fuse itself is one id-keyed
    * full-outer equi-join plus a TakeOrdered(topN) — no global sort
    * materializes. */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      rankCol: String,
      k: Int,
      topN: Int): DataFrame = {
    val ca = a.select(col(idCol), col(rankCol).cast("long").as("__ra"))
    val cb = b.select(col(idCol), col(rankCol).cast("long").as("__rb"))
    ca.join(cb, Seq(idCol), "full_outer")
      .select(col(idCol), col("__ra").as("rank_a"), col("__rb").as("rank_b"),
        (coalesce(expr(s"1000000 DIV ($k + __ra)"), lit(0L)) +
         coalesce(expr(s"1000000 DIV ($k + __rb)"), lit(0L))).as("rrf_u"))
      .orderBy(col("rrf_u").desc, col(idCol))
      .limit(topN)
  }
}
