package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float|double>` columns, written as
  * higher-order-function Column expressions (codegen'd, no UDF, no
  * serialization) — the building blocks for similarity search and
  * embedding-based dedup at 100 TB.
  */
object Vectors {

  /** Cast every element to double BEFORE arithmetic: float*float stays
    * float in Spark SQL, which would diverge from double-precision engines
    * in the last bits. */
  private def dbl(a: Column): Column = transform(a, _.cast("double"))

  /** Dot product of two array columns (element-wise and accumulated in
    * double, sequential fold — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(dbl(a), dbl(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm. */
  def norm2Sq(a: Column): Column =
    aggregate(dbl(a), lit(0.0), (acc, x) => acc + x * x)

  def l2Norm(a: Column): Column = sqrt(norm2Sq(a))

  /** Cosine similarity (null if either norm is 0). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Compiled MinHash kernel: one base hash per shingle, k minhashes derived
    * with a multiply-add hash family (Carter-Wegman style) in a tight loop.
    * A typed Scala UDF: one JVM call per ROW instead of one interpreted
    * lambda per (seed × element) — ~100× faster than the HOF form at corpus
    * scale. (Next step if it ever matters: a Catalyst Expression with
    * doGenCode to join whole-stage codegen.) */
  def minhashSignatureFast(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (shingles: Seq[String]) =>
      val mins = Array.fill(k)(Long.MaxValue)
      // null input → empty-set signature (all-MaxValue), consistent with the
      // pure-Column Text functions' null propagation rather than an NPE
      (if (shingles == null) Seq.empty[String] else shingles).foreach { s =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s).toLong * 0x9E3779B97F4A7C15L
        var i = 0
        while (i < k) {
          // seeded family: h_i = (a_i*h + b_i), odd multipliers
          val hi = (2 * i + 1) * h + i * 0xC2B2AE3D27D4EB4FL
          if (hi < mins(i)) mins(i) = hi
          i += 1
        }
      }
      mins
    }

  /** LSH band keys from a minhash signature: `bands` hashes, each over a
    * contiguous slice of the signature (banding technique from Broder /
    * Leskovec-Rajaraman-Ullman "Mining of Massive Datasets" ch.3). Two docs
    * share a band key iff their signature slices agree exactly.
    * NOTE: interpreted-HOF form — prefer [[minhashBandKeysFast]] in hot
    * paths (this costs ~2 ms/row interpreted vs ~µs compiled). */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(concat_ws(",", transform(
          slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string")))).as("sig")))

  /** Compiled word n-gram shingling (single-space tokenization), identical
    * output to `array_distinct(Text.shingles(text, n))`. */
  def shinglesFast(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val ws = if (text == null) Array.empty[String] else text.trim.split(" ", -1)
      if (ws.length < n) Array.empty[String]
      else {
        val out = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i <= ws.length - n) {
          out += ws.slice(i, i + n).mkString(" ")
          i += 1
        }
        out.toArray
      }
    }

  /** Compiled word n-gram shingling WITHOUT dedup — all occurrences, in
    * order, identical to `Text.shingles(text, n)` (which is an interpreted
    * HOF; use this in hot paths that need occurrence counts, e.g. the
    * repetition filter). */
  def shinglesAllFast(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val ws = if (text == null) Array.empty[String] else text.trim.split(" ", -1)
      if (ws.length < n) Array.empty[String]
      else Array.tabulate(ws.length - n + 1)(i => ws.slice(i, i + n).mkString(" "))
    }

  /** Compiled SQL-PORTABLE MinHash band keys: signature element `s` is the
    * lexicographic MIN over the shingle set of the lowercase-hex
    * `md5(s || ':' || shingle)`, and band key `b` is `md5` of its `r`
    * signature elements joined with '|' in seed order — byte-identical to
    * the plain-SQL formulation `min(md5(s::VARCHAR || ':' || sh))` +
    * `md5(string_agg(m, '|' ORDER BY s))`, so results can be
    * differential-tested value-by-value against any engine with md5.
    * One JVM call per row replaces a seeds×shingles explode + hash-agg
    * shuffle (hex compare = binary collation compare: hex chars are
    * single-byte ASCII in UTF-8). Empty/null shingle sets → empty keys
    * (doc drops out of banding, like SQL's group-by-nothing). */
  def md5BandKeys(numHashes: Int, bands: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val r = numHashes / bands
    udf { (shingles: Seq[String]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(bs: Array[Byte]): String = {
        val sb = new java.lang.StringBuilder(32)
        var i = 0
        while (i < bs.length) {
          sb.append(Character.forDigit((bs(i) >> 4) & 0xF, 16))
          sb.append(Character.forDigit(bs(i) & 0xF, 16))
          i += 1
        }
        sb.toString
      }
      val sh = if (shingles == null) Seq.empty[String] else shingles
      if (sh.isEmpty) Seq.empty[String]
      else {
        val mins = new Array[String](numHashes)
        sh.foreach { g =>
          val bytes = g.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var s = 0
          while (s < numHashes) {
            md.update(s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            md.update(':'.toByte)
            md.update(bytes)
            val h = hex(md.digest()) // digest() resets the instance
            if (mins(s) == null || h.compareTo(mins(s)) < 0) mins(s) = h
            s += 1
          }
        }
        (0 until bands).map { b =>
          val joined = (b * r until (b + 1) * r).map(mins).mkString("|")
          hex(md.digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
      }
    }
  }

  /** The FULL per-seed signature of the [[md5BandKeys]] family (the
    * `mins` array before banding), for estimator-calibration panels that
    * need coordinate-level agreement counts. Same md5 form, so it replays
    * in SQL as `min(md5(s::VARCHAR || ':' || sh)) ... GROUP BY s`. */
  def md5Signature(numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (shingles: Seq[String]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(bs: Array[Byte]): String = {
        val sb = new java.lang.StringBuilder(32)
        var i = 0
        while (i < bs.length) {
          sb.append(Character.forDigit((bs(i) >> 4) & 0xF, 16))
          sb.append(Character.forDigit(bs(i) & 0xF, 16))
          i += 1
        }
        sb.toString
      }
      val sh = if (shingles == null) Seq.empty[String] else shingles
      if (sh.isEmpty) Seq.empty[String]
      else {
        val mins = new Array[String](numHashes)
        sh.foreach { g =>
          val bytes = g.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var s = 0
          while (s < numHashes) {
            md.update(s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            md.update(':'.toByte)
            md.update(bytes)
            val h = hex(md.digest())
            if (mins(s) == null || h.compareTo(mins(s)) < 0) mins(s) = h
            s += 1
          }
        }
        mins.toSeq
      }
    }

  /** Compiled shingles→band-keys kernel: minhash signature + banding in one
    * pass per row. Band key = 64-bit hash of (band index, band's minhash
    * slice); two docs collide on a key iff that band's slice agrees exactly —
    * identical semantics to [[lshBands]]∘[[minhashSignatureFast]], one JVM
    * call per row. */
  def minhashBandKeysFast(numHashes: Int, bands: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val rows = numHashes / bands
    udf { (shingles: Seq[String]) =>
      val mins = Array.fill(numHashes)(Long.MaxValue)
      (if (shingles == null) Seq.empty[String] else shingles).foreach { s =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s).toLong * 0x9E3779B97F4A7C15L
        var i = 0
        while (i < numHashes) {
          val hi = (2 * i + 1) * h + i * 0xC2B2AE3D27D4EB4FL
          if (hi < mins(i)) mins(i) = hi
          i += 1
        }
      }
      val keys = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var acc = b.toLong * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
        var r = 0
        while (r < rows) {
          acc = (acc ^ mins(b * rows + r)) * 0xFF51AFD7ED558CCDL
          acc ^= (acc >>> 33)
          r += 1
        }
        keys(b) = acc
        b += 1
      }
      keys
    }
  }

  /** SimHash (Charikar 2002): 64-bit fingerprint where bit j is the sign of
    * the sum over tokens of ±1 according to bit j of the token's hash.
    * Near-duplicate docs differ in few bits (small Hamming distance).
    * Compiled kernel (UDF) for the same reason as [[minhashSignatureFast]]:
    * the HOF form costs 64 interpreted lambdas per token. */
  def simhash: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (tokens: Seq[String]) =>
      val counts = new Array[Int](64)
      (if (tokens == null) Seq.empty[String] else tokens).foreach { t =>
        val h = scala.util.hashing.MurmurHash3.stringHash(t).toLong * 0x9E3779B97F4A7C15L
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      var fp = 0L
      var j = 0
      while (j < 64) { if (counts(j) > 0) fp |= (1L << j); j += 1 }
      fp
    }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SQL-PORTABLE SimHash: the per-token hash is the first 16 hex chars of
    * `md5(token)`, bit `j` of hex digit `p` votes ±1 on fingerprint bit
    * `p*4 + j`, and the fingerprint is returned as the 16-char lowercase
    * hex string of the winning bits (ties → 0, matching `count > 0`).
    * Byte-identical to a plain-SQL replay over `substr(md5(t), 1, 16)`, so
    * the fingerprint math is differential-testable cross-engine — unlike
    * [[simhash]]'s MurmurHash3 family, which no SQL engine reproduces.
    * Parse with `java.lang.Long.parseUnsignedLong(_, 16)` for bit ops. */
  def simhashMd5Hex: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (tokens: Seq[String]) =>
      val counts = new Array[Int](64)
      val md = java.security.MessageDigest.getInstance("MD5")
      (if (tokens == null) Seq.empty[String] else tokens).foreach { t =>
        val dig = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var p = 0
        while (p < 16) {
          val b = dig(p >> 1)
          val dv = if ((p & 1) == 0) (b >> 4) & 0xF else b & 0xF
          var j = 0
          while (j < 4) {
            if (((dv >> j) & 1) == 1) counts(p * 4 + j) += 1 else counts(p * 4 + j) -= 1
            j += 1
          }
          p += 1
        }
      }
      val sb = new java.lang.StringBuilder(16)
      var p = 0
      while (p < 16) {
        var d = 0
        var j = 0
        while (j < 4) { if (counts(p * 4 + j) > 0) d |= (1 << j); j += 1 }
        sb.append(Character.forDigit(d, 16))
        p += 1
      }
      sb.toString
    }

  /** Unsigned hex-string → 64-bit long (bit-preserving), for feeding
    * [[simhashMd5Hex]] fingerprints into long-keyed bit ops. */
  def parseHex64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (hx: String) => java.lang.Long.parseUnsignedLong(hx, 16) }

  /** Dominant (majority) dimension of a vector column — one map-side-
    * partial size agg, NOT "whatever row a partition scanned first": a
    * leading malformed row must not silently select the wrong dimension
    * and drop the entire valid corpus (first-row inference is also
    * partition-order dependent, i.e. nondeterministic across layouts).
    * Ties break toward the smaller dimension (deterministic). */
  def dominantDim(df: org.apache.spark.sql.DataFrame, vecCol: String): Int =
    df.where(org.apache.spark.sql.functions.col(vecCol).isNotNull)
      .groupBy(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col(vecCol)).as("__d"))
      .count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("__d").asc)
      .take(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Fixed-point quantizer: floor(v[d] · scale) as longs — the ONE
    * quantization rule the portable-ANN SQL oracles replay (q123/q124/
    * q125 use `floor(x::DOUBLE * scale)`); keep Scala and SQL in lockstep
    * through this single definition. Power-of-two scales make the float
    * product exact. Null → empty (callers filter on size). */
  def fixedPointQuant(scale: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Float]) =>
      if (v == null) Array.empty[Long]
      else Array.tabulate(v.length)(d => math.floor(v(d).toDouble * scale).toLong)
    }

  /** SQL-PORTABLE random-projection LSH band buckets for an embedding
    * column. Hyperplane component r[h][d] is an md5-derived integer in
    * [-32768, 32767] (first 4 hex digits of md5("h:d")); the vector is
    * quantized to FIXED POINT q[d] = floor(v[d] * 2^20) — the float×2^20
    * product is exact (power-of-two scale) and floor is engine-uniform, so
    * the per-hyperplane dot Σ q[d]·r[h][d] is an EXACT integer sum:
    * order-free, overflow-safe (≤ 2^42), replayable verbatim in SQL.
    * Sign bits pack into `bands` bucket keys of nbits/bands bits each.
    * (A float-dot sign would be non-portable: sum order shifts the last
    * ulps and can flip signs near 0 — same lesson as Text.unigramNll.)
    * Returns the band bucket keys; empty for null/wrong-dim vectors. */
  def rpLshBuckets(nbits: Int, bands: Int, dim: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(nbits % bands == 0 && nbits <= 63, s"bad config ($nbits, $bands)")
    val perBand = nbits / bands
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex4(s: String): Int = {
      val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ((dig(0) & 0xFF) << 8) | (dig(1) & 0xFF)
    }
    val r = Array.tabulate(nbits, dim)((h, d) => hex4(s"$h:$d") - 32768)
    udf { (v: Seq[Float]) =>
      if (v == null || v.length != dim) Seq.empty[Long]
      else {
        val q = Array.tabulate(dim)(d => math.floor(v(d).toDouble * 1048576.0).toLong)
        val bits = Array.tabulate(nbits) { h =>
          var s = 0L
          var d = 0
          while (d < dim) { s += q(d) * r(h)(d); d += 1 }
          if (s > 0) 1L else 0L
        }
        (0 until bands).map { b =>
          var k = 0L
          var j = 0
          while (j < perBand) { k |= bits(b * perBand + j) << j; j += 1 }
          k
        }
      }
    }
  }

  /** Pigeonhole blocking keys for SimHash candidate generation (the
    * multi-block scheme of Manku-Jain-Sarma, "Detecting Near-Duplicates for
    * Web Crawling", WWW'07): split the 64-bit fingerprint into `nBlocks`
    * blocks; a pair within Hamming distance `nBlocks - comboSize` has at
    * least `comboSize` clean (bit-identical) blocks, so it agrees exactly on
    * at least one `comboSize`-subset — emit every subset's packed value as a
    * key. Versus single-chunk blocking this widens the key from 64/nBlocks
    * bits to comboSize× that, so bucket cardinality keeps scaling with the
    * corpus instead of saturating (2^16 buckets was the round-1 scale flaw:
    * at billions of docs every bucket holds ~n/65k rows and the candidate
    * self-join explodes quadratically). Compiled kernel; key packing is
    * injective per combo, so no false bucket collisions beyond genuine
    * block agreement. */
  def simhashBlockKeys(nBlocks: Int, comboSize: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(comboSize <= nBlocks && nBlocks <= 64, s"bad blocking ($nBlocks, $comboSize)")
    val widths = Array.tabulate(nBlocks)(i => 64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val combos = (0 until nBlocks).combinations(comboSize).map(_.toArray).toArray
    // the combo id occupies the high bits: its actual width is
    // ceil(log2(#combos)) — NOT a fixed 6; maxHamming=8 already needs
    // C(11,3)=165 combos = 8 bits. Guard with the real width so a wide
    // config can't pass and then collide key spaces through the sign bit.
    val idBits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros((combos.length - 1).toLong))
    // the id must be shifted by the MAX value width, uniformly: shifting
    // each combo by its OWN width (blocks differ by 1 bit when nBlocks ∤ 64)
    // let key spaces overlap — e.g. nBlocks=11: id 8 over a 17-bit value
    // and id 4 over an 18-bit value both produced 2^20 for fp=0. Collisions
    // only added spurious candidates (Hamming verify screens them), but the
    // injectivity claim and the bucket-size math rely on disjoint spaces.
    val maxW = combos.map(_.map(widths).sum).max
    require(idBits + maxW <= 63,
      s"combo key overflows a long: $idBits id bits + widest combo $maxW value bits > 63")
    udf { (fp: Long) =>
      val keys = new Array[Long](combos.length)
      var c = 0
      while (c < combos.length) {
        var value = 0L
        val combo = combos(c)
        var t = 0
        while (t < combo.length) {
          val b = combo(t)
          value = (value << widths(b)) | ((fp >>> starts(b)) & ((1L << widths(b)) - 1))
          t += 1
        }
        keys(c) = (c.toLong << maxW) | value
        c += 1
      }
      keys
    }
  }

  /** Compiled nearest-centroid assignment: for a vector column, the ids of
    * the `n` centroids with highest cosine similarity (ties → lower id), as
    * `array<bigint>`. The centroid model is captured in the closure (k×dim
    * floats — model-sized, broadcast with the task), centroid norms
    * precomputed once per executor. Replaces the interpreted
    * `array_sort(transform(...))` argmax (~µs per element-lambda, the
    * round-1 IVF hot-spot) with one JVM call per row. */
  def nearestCentroids(cents: Array[Array[Float]], n: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val norms = cents.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i).toDouble * c(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    udf { (vec: Seq[Float]) =>
      if (vec == null) Array.empty[Long]
      else {
        val a = vec.toArray
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
        val nv = math.sqrt(s)
        val sims = new Array[Double](cents.length)
        var c = 0
        while (c < cents.length) {
          var dot = 0.0; var j = 0
          val m = math.min(a.length, cents(c).length)
          while (j < m) { dot += a(j).toDouble * cents(c)(j); j += 1 }
          sims(c) = if (nv == 0 || norms(c) == 0) -2.0 else dot / (nv * norms(c))
          c += 1
        }
        // top-n by (sim desc, id asc) — same order as sorting (-sim, cid)
        Array.range(0, cents.length).sortBy(i => (-sims(i), i)).take(n).map(_.toLong)
      }
    }
  }

  /** Random-hyperplane LSH signature (Charikar SimHash for real vectors):
    * bit p = sign of <v, r_p> for `planes` (≤64) pseudo-random hyperplanes.
    * Plane components are deterministic ±1s derived by hashing (plane, dim) —
    * no stored model, identical across executors. Cosine-similar vectors
    * agree on most bits. Compiled kernel (UDF) like [[minhashSignatureFast]]. */
  def rpSignature(planes: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    // The ±1 plane components are row-independent: precompute the sign
    // matrix once per executor (hashing (p,j) per ROW per element cost
    // planes×dim tuple allocs + hashes per row — the round-2 q66 hot-spot).
    // 4096 dims × 64 planes = 32 KB of booleans; rare longer vectors fall
    // back to the hash formula, keeping output identical at any dim.
    val maxDim = 4096
    lazy val signs: Array[Array[Boolean]] = Array.tabulate(planes, maxDim) {
      (p, j) => (scala.util.hashing.MurmurHash3.productHash((p, j)) & 1) == 1
    }
    def signAt(p: Int, j: Int): Boolean =
      if (j < maxDim) signs(p)(j)
      else (scala.util.hashing.MurmurHash3.productHash((p, j)) & 1) == 1
    udf { (vec0: Seq[Float]) =>
      val vec: Array[Float] =
        if (vec0 == null) Array.empty[Float]
        else vec0 match {
          case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
          case other => other.toArray
        }
      var sig = 0L
      var p = 0
      while (p < planes) {
        var dotAcc = 0.0
        var j = 0
        if (vec.length <= maxDim) {
          val row = signs(p)
          while (j < vec.length) { dotAcc += (if (row(j)) vec(j) else -vec(j)); j += 1 }
        } else {
          while (j < vec.length) { dotAcc += (if (signAt(p, j)) vec(j) else -vec(j)); j += 1 }
        }
        if (dotAcc > 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
  }
}
