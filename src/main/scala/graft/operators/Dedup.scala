package graft.operators

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.3) over a corpus with an id
  * column and a text column.
  *
  * Scale design: every variant is (narrow signature map) → (single
  * shuffle on a signature/bucket key) → (pairwise work only within
  * buckets). Nothing here is O(n²) in the corpus; candidate volume is
  * docs×bands. Skew (e.g. boilerplate shared by millions of docs) is
  * bounded by `maxBucket`, which drops pathological buckets the same
  * way production dedup pipelines cap posting lists.
  */
object Dedup {

  /** (id, shingle) rows via explode over positions. The Generate node
    * is a projection-collapse barrier, so `normText`'s regex runs once
    * per DOC; shingling with `transform(..., i => substr(norm, i, k))`
    * instead inlines the regex into the lambda and re-runs it per
    * POSITION (measured ~20× slower on the minhash stage).
    */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    df
      // Compute-bound fan-out: file-size-based splits underestimate
      // shingle+hash cost, so a small corpus file lands in ONE task
      // and runs serial (measured: the whole minhash stage on 1 of 32
      // cores). Spread docs across the cluster before exploding.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), TextFunctions.normText(col(textCol)).as("t"))
      .filter(length(col("t")) >= shingleK)
      .select(col(idCol), col("t"),
        explode(sequence(lit(1), length(col("t")) - lit(shingleK - 1))).as("i"))
      .select(col(idCol), col("t").substr(col("i"), lit(shingleK)).as("s"))

  /** Exact dedup on normalized text: one hash-shuffle groupBy. Returns
    * (rep_id, n_copies, all ids) per distinct text.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprintMd5(col(textCol)).as("fp"))
      .agg(
        min(col(idCol)).as("rep_id"),
        count(lit(1)).as("n_copies"),
        sort_array(collect_list(col(idCol))).as("ids"))

  /** MinHash signatures + LSH band keys per doc.
    * Output: (id, band, band_hash) — `bands` rows per doc.
    *
    * Implementation: explode shingles → ONE md5 per shingle to a base
    * hash → ONE codegen'd hash aggregate with `numHashes` universal-
    * hash min measures (`HashFunctions.universalMinhash` — integer
    * ops, not salted md5s: 16× fewer digests, measured 4× faster
    * stage). Partial aggregation collapses each doc's shingles
    * map-side (a doc's shingles live in one partition), so the shuffle
    * carries ~docs rows, not shingles. (A pure expression-fold variant
    * recomputes the signature per band because higher-order functions
    * get no common-subexpression elimination — measured 10× slower.)
    */
  /** The wide (id, h0..hN-1) signature frame: minhashBands folds it
    * into LSH band keys.
    */
  private[operators] def minhashSigWide(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int,
      baseHash: Column => Column): DataFrame = {
    val exploded = shingleRows(df, idCol, textCol, shingleK)
    val withH = exploded.select(col(idCol), baseHash(col("s")).as("h"))
    val aggs = (0 until numHashes).map(j =>
      min(HashFunctions.universalMinhash(col("h"), j)).as(s"h$j"))
    withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 16, bands: Int = 4,
      // md5 base = oracle-replayable (default); HashFunctions
      // .minhashBaseXx = faster production family, same API
      baseHash: Column => Column = HashFunctions.minhashBase): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — a remainder " +
        "would silently drop signature components from every band key")
    val rows = numHashes / bands
    val sig = minhashSigWide(df, idCol, textCol, shingleK, numHashes, baseHash)
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|", (0 until rows).map(r => col(s"h${b * rows + r}")): _*))
    }
    sig.select(col(idCol), posexplode(array(bandCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** n-gram Jaccard similarity for given candidate pairs — the exact
    * verification kernel run after LSH candidate generation.
    * `pairs` must have columns (id_a, id_b).
    */
  def jaccardVerify(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 5, threshold: Double = 0.0): DataFrame = {
    // materialize distinct shingle sets through an aggregation: the
    // exchange is a barrier, so the join below carries real arrays
    // instead of re-deriving them per pair row (projection inlining
    // made the naive form recompute shingles 2× per candidate pair),
    // and collect_set dedups in O(n) vs array_distinct's O(n²).
    // Shingles travel as 60-bit md5-prefix ints, not strings: ~2.6×
    // fewer shuffle bytes and cheaper set compares. Jaccard over
    // hashed sets is EXACTLY what the DuckDB oracle computes too —
    // both engines hash the same bytes with the same md5, so even a
    // collision is the same collision on both sides.
    // Lineage-CUT (t15's rule): the frame feeds BOTH join sides, and
    // without the cut each side re-runs the whole shingle explode +
    // set aggregation — measured 2.5× warm-run headroom on d17/d15.
    val sh = Checkpoints.cut(shingleRows(df, idCol, textCol, shingleK)
      .groupBy(col(idCol).as("id"))
      .agg(collect_set(
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")).as("sh")))
    pairs
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** n-gram CONTAINMENT for candidate pairs — the asymmetric overlap
    * measure |A∩B| / min(|A|,|B|): a short document pasted inside a
    * long one scores ~1.0 here while its Jaccard (÷ union) shrinks
    * with the length ratio and slips under any workable threshold —
    * the quote/excerpt/boilerplate-wrapper case a Jaccard-only dedup
    * pass structurally misses. Same shingle-set equi-join shape,
    * md5-int parity argument, and two-consumer lineage cut as
    * `jaccardVerify`; only the denominator differs.
    */
  def containmentVerify(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 5, threshold: Double = 0.0): DataFrame = {
    val sh = Checkpoints.cut(shingleRows(df, idCol, textCol, shingleK)
      .groupBy(col(idCol).as("id"))
      .agg(collect_set(
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")).as("sh")))
    pairs
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** FUSED exact-set + signature frame for estimator calibration
    * (d17): one shingle explode → one md5 per shingle, parsed once
    * into the 60-bit set element (jaccardVerify's representation)
    * and the 32-bit minhash base (minhashSigWide's) → ONE partial-agg
    * groupBy producing (id, sh, h0..hN-1) together. Bit-identical to
    * running the two kernels separately — both are substrings of the
    * same digest, and a min over the shingle MULTISET equals the min
    * over its set, so the signature is dedup-invariant — at half the
    * shingle passes and half the downstream joins.
    */
  def shingleSetWithSignature(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 16): DataFrame = {
    val pre = shingleRows(df, idCol, textCol, shingleK)
      .select(col(idCol), md5(col("s")).as("d"))
      .select(col(idCol),
        conv(substring(col("d"), 1, 15), 16, 10).cast("long").as("shv"),
        (conv(substring(col("d"), 1, 8), 16, 10).cast("long")
          % HashFunctions.MinhashP).as("h"))
    val measures = collect_set(col("shv")).as("sh") +:
      (0 until numHashes).map(j =>
        min(HashFunctions.universalMinhash(col("h"), j)).as(s"h$j"))
    pre.groupBy(col(idCol)).agg(measures.head, measures.tail: _*)
  }

  /** 64-bit SimHash per doc (hex string) — one narrow map (repartition
    * for the same compute-bound fan-out reason as shingleRows).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        HashFunctions.simhashHex(TextFunctions.distinctTokens(col(textCol))).as("simhash"))

  /** Frequency-WEIGHTED SimHash: the vote fold runs over ALL token
    * occurrences, so a token appearing n times votes n — the standard
    * simhash weighting (a boilerplate-dominated doc hashes like its
    * boilerplate). Same narrow-map shape as the unweighted form.
    */
  def simhashWeighted(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        HashFunctions.simhashHex(TextFunctions.wsTokens(col(textCol))).as("simhash"))

  /** SimHash over char k-gram MULTISETS, computed the scale-shaped
    * way: explode shingles through a Generate barrier, ONE md5 per
    * shingle parsed once into two 32-bit integer halves, derive the
    * 64 ±1 bit votes as pure integer Column algebra, and collapse per
    * doc with 64 codegen'd `sum` measures — partial aggregation means
    * the shuffle carries ~docs rows (64 longs each), never shingles.
    *
    * Bit-identical to `HashFunctions.simhashHex(charShingleSeq(text,
    * k))` — same md5 nibbles (char c of the digest = bits 4·(c−1)…
    * from the top of the first 64 bits), same LSB-first vote rule,
    * same `votes > 0` hex reassembly, and a doc too short to shingle
    * still emits the all-zero hash (explode_outer keeps its row; the
    * null-only sum → null → vote 0, exactly DuckDB's list_sum([]))
    * — so the m5 oracle replays it unchanged. The expression-fold
    * form is the measured anti-pattern this replaces: HOFs get no
    * common-subexpression elimination, so it re-evaluated md5 16× per
    * shingle and ran the 64-wide zip_with vote fold per shingle —
    * ~300 s at sf0.1 on m5's ~10³ char shingles/doc vs ~1 s here.
    */
  /** Exploded char k-shingle rows shared by both pHash families:
    * (id, s) with ALL occurrences, and a doc too short to shingle
    * KEPT as a single null-`s` row (explode_outer) — that row is what
    * lets both families emit the all-zero hash for shingle-less docs
    * (null hash → null votes → "0" nibbles, DuckDB's list_sum([])).
    *
    * NULL text is FILTERED, not hashed: the replaced expression-fold
    * `simhashHex(charShingleSeq(text, k))` propagated NULL, so a
    * NULL-text doc never entered pairing; keeping that contract here
    * (rather than letting the null row fall into the all-zero-hash
    * lane) stops every NULL-text doc from pairing with every other
    * one — and with genuinely short docs — at Hamming 0. A NULL-text
    * doc emits NO hash row (pinned by spec in MediaRankingSpec);
    * empty/short NON-null text still emits the all-zero hash.
    */
  private def charShingleFrame(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .filter(col(textCol).isNotNull)
      .select(col(idCol), TextFunctions.normText(col(textCol)).as("t"))
      .select(col(idCol),
        explode_outer(when(length(col("t")) >= k,
          sequence(lit(1), length(col("t")) - lit(k - 1)))).as("i"),
        col("t"))
      .select(col(idCol), col("t").substr(col("i"), lit(k)).as("s"))

  def phashChar(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4): DataFrame = {
    // parse the 64-bit digest prefix ONCE per shingle; the project is
    // not collapsed into the aggregate (conv is non-cheap and
    // referenced 32×, so CollapseProject leaves the barrier alone)
    val halves = charShingleFrame(df, idCol, textCol, k)
      .select(col(idCol), md5(col("s")).as("d"))
      .select(col(idCol),
        conv(substring(col("d"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("d"), 9, 8), 16, 10).cast("long").as("lo"))
    val votes = (0 until 64).map { p =>
      val c = p / 4 + 1 // 1-based hex char of the digest (simhashHex's nibble index)
      val (src, charsBelow) = if (c <= 8) (col("hi"), 8 - c) else (col("lo"), 16 - c)
      val bit = shiftright(src, charsBelow * 4 + p % 4).bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"v$p")
    }
    votesToHex(halves.groupBy(col(idCol)).agg(votes.head, votes.tail: _*), idCol)
  }

  /** PRODUCTION variant of `phashChar`: one codegen'd `xxhash64` per
    * shingle — no digest string, no hex parse — with the 64 votes
    * read straight off the hash's bits. xxhash64 is Spark-only, so
    * this family is NOT DuckDB-replayable: md5's `phashChar` stays
    * the oracle path (HashFunctions.minhashBaseXx's contract); pair-
    * finding equivalence on planted re-uploads is spec-checked and
    * the speedup benched (`m5x_phash_xxhash`). The null guard keeps
    * the short-doc contract identical to the md5 family (bare
    * xxhash64 would hash a NULL child to its seed, not null).
    */
  def phashCharXx(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4): DataFrame = {
    val hashed = charShingleFrame(df, idCol, textCol, k)
      .select(col(idCol),
        when(col("s").isNotNull, xxhash64(col("s"))).as("h"))
    val votes = (0 until 64).map { p =>
      sum(shiftright(col("h"), p).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$p")
    }
    votesToHex(hashed.groupBy(col(idCol)).agg(votes.head, votes.tail: _*), idCol)
  }

  /** Shared reassembly: 64 vote sums v0..v63 → 16-hex-char hash
    * (nibble k = Σ_b (v[4k+b] > 0) << b — simhashHex's rule; a null
    * vote, from a shingle-less doc, reads as ≤ 0 → bit 0).
    */
  private def votesToHex(agg: DataFrame, idCol: String): DataFrame = {
    val hexChars = (0 until 16).map { kk =>
      val nibVal = (0 until 4).map { b =>
        when(col(s"v${kk * 4 + b}") > 0, lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _)
      lit("0123456789abcdef").substr(nibVal + 1, lit(1))
    }
    agg.select(col(idCol), concat_ws("", hexChars: _*).as("phash"))
  }

  /** Banded Hamming pairing over an EXISTING 16-hex-char hash column —
    * the kernel behind m5's perceptual-hash media dedup: 4 bands of 16 bits each form the shuffle key,
    * and by pigeonhole any pair within Hamming 3 of 64 bits agrees on
    * ≥1 band, with no O(n²) stage.
    *
    * Recall contract: exact at the ≤3 radius for pairs whose agreeing
    * band lands OUTSIDE a capped bucket. A (band, chunk) bucket larger
    * than `maxBucket` is dropped wholesale (skew guard below), so a
    * pair whose ONLY agreeing bands all sit in oversized buckets is
    * missed — at corpus scale the degenerate all-zero-hash bucket
    * (trivial/short assets) is the realistic case. That is the
    * deliberate trade (an uncapped degenerate bucket is quadratic).
    */
  def hexHashPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    // Parse the four 16-bit band ints ONCE per asset (4 convs, ∝
    // assets) so the pairwise Hamming is four codegen'd
    // bit_count(xor) int ops — the HOF nibble fold this replaces
    // parsed 32 hex chars per CANDIDATE row, a cost ∝ band
    // collisions that a template-heavy corpus inflates arbitrarily
    // (measured 6+ s on 183k candidates at sf0.1 vs sub-second
    // here). Filter-before-distinct for the same reason: hamming is
    // now cheaper than the dedup exchange it precedes.
    // Lineage-CUT the parsed hash frame (t15's rule): it fans out to
    // THREE consumers — the oversized-bucket census and both join
    // sides — and the upstream hash computation (m5's 64-vote
    // aggregation over all shingles) is exactly the kind of producer
    // that must not re-run per consumer.
    val withInts = Checkpoints.cut(parseBandInts(hashed, idCol, hashCol))
    val banded0 = bandedChunks(withInts, idCol)
    // Skew cap (the minhash bands' guard, same rationale): a (band,
    // chunk) bucket of B assets contributes B² candidate rows, and a
    // template-degenerate chunk — the all-zero pHash of trivial
    // assets is the canonical case — goes quadratic at corpus scale.
    // Oversized buckets carry no usable near-dup signal and are
    // exactly the hot keys that would skew the join, so they are
    // found with a tiny partial-agg groupBy and removed via a
    // broadcast anti-join (no window, no sort). The m5 oracle
    // replays the cap; at test SFs no bucket comes near it. The cap
    // WEAKENS the pigeonhole recall guarantee for pairs inside the
    // dropped buckets — see the Scaladoc contract above.
    val oversized = banded0.groupBy(col("band"), col("chunk"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band"), col("chunk"))
    val banded = banded0.join(broadcast(oversized),
      Seq("band", "chunk"), "left_anti")
    def side(id: String, p: String) = banded.select(
      col("band") +: col("chunk") +: col(idCol).as(id) +:
        (0 until 4).map(b => col(s"b$b").as(s"$p$b")): _*)
    val hamming = (0 until 4)
      .map(b => bit_count(col(s"a$b").bitwiseXOR(col(s"c$b"))))
      .reduce(_ + _)
    side("id_a", "a").join(side("id_b", "c"), Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The four 16-bit band ints of a 16-hex-char hash, parsed once per
    * asset — shared by hexHashPairs and the incremental media index
    * (IncrementalMedia).
    */
  private[operators] def parseBandInts(hashed: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    hashed.select(col(idCol) +:
      (0 until 4).map(b =>
        conv(col(hashCol).substr(b * 4 + 1, 4), 16, 10)
          .cast("long").as(s"b$b")): _*)

  /** (band, chunk) rows per asset — one of the 4 16-bit band ints as
    * the chunk key, shared by the pairing join and the skew census.
    */
  private[operators] def bandedChunks(withInts: DataFrame, idCol: String): DataFrame =
    withInts.select(
      col(idCol) +: (0 until 4).map(b => col(s"b$b")) :+
        posexplode(array((0 until 4).map(b => col(s"b$b")): _*)): _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "chunk"))
}
