package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and brute-force n-gram Jaccard (the small-scale oracle).
  *
  * Scale design (100 TB, 1000 executors):
  *  - Exact dedup is one hash-partitioned aggregation on the text (or a
  *    fingerprint of it — dedup on `polyHash` first to avoid shuffling
  *    full document bodies; only hash-colliding groups need the raw text).
  *  - MinHash: signatures are computed map-side (explode → partial min
  *    per permutation is a map-side-combinable agg); the only wide
  *    exchange is the band-bucket self-join, which shuffles (band, key)
  *    pairs — tiny rows — not documents. Pathological buckets (boilerplate
  *    shingles shared by everything) are capped by `maxBucketSize`, the
  *    standard guard against quadratic bucket blowup / join skew.
  *  - Verification joins candidate id pairs back to shingle sets; at scale
  *    this is a shuffle join on doc id, and candidates ≪ pairs.
  *  - Brute force is O(n²) and exists as the correctness baseline only.
  */
object NearDup {

  /** Exact dedup: one surviving (minimum) id per distinct key, plus the
    * duplicate count. Single hash aggregation; map-side combinable.
    */
  def exactDedup(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental-ingest dedup: drop incoming documents whose content
    * fingerprint already exists in the seen corpus — the "new crawl vs
    * training set so far" step of a continuously-fed pipeline, distinct
    * from within-batch dedup (the incoming batch is NOT deduplicated
    * against itself here; run exactDedup first if that is also wanted).
    *
    * A LEFT ANTI hash join on the 8-byte polynomial fingerprint (d08
    * discipline): the seen side ships only distinct fingerprints, so at
    * 100 TB the join carries one long per historical document, not the
    * text — and the same frame is exactly what you would persist as the
    * running "seen" table between ingests.
    */
  def incrementalDedup(incoming: DataFrame, idCol: String, textCol: String,
      seen: DataFrame, seenTextCol: String): DataFrame = {
    require(!incoming.columns.contains("__fp"),
      "incoming already has a '__fp' column (reserved)")
    incoming.withColumn("__fp", polyHash(col(textCol)))
      .join(seen.select(polyHash(col(seenTextCol)).as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** [[incrementalDedup]] with a Bloom-filter runtime filter in front of
    * the anti-join — the shape that survives a 100 TB seen corpus.
    *
    * The plain anti-join shuffles EVERY incoming fingerprint to meet the
    * seen side. Here the seen fingerprints are first folded into one
    * broadcastable bitset (`numBits`/8 bytes regardless of corpus size,
    * built by a map-side-combinable aggregate); incoming rows probe it
    * map-side, and only the rows the filter flags as possibly-seen — the
    * true duplicates plus the ~1% false positives — continue into the
    * exact anti-join shuffle. Rows the probe rejects are DEFINITELY new
    * (Bloom filters have no false negatives), so they bypass the
    * exchange entirely and the result is bit-identical to
    * [[incrementalDedup]]: the filter changes the plan, never the
    * answer.
    *
    * Branch economics: the incoming scan runs twice (once per branch of
    * the union) — at scale a columnar scan is far cheaper than the
    * shuffle it saves; persist `incoming` first if the source is
    * recomputed. Size `numBits` at ~10 bits per distinct seen key (cap
    * 2^30 bits = 128 MB ≈ 100M keys); past the cap, shard the seen
    * corpus by fingerprint range and chain one pass per shard.
    */
  def incrementalDedupBloom(incoming: DataFrame, idCol: String,
      textCol: String, seen: DataFrame, seenTextCol: String,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val reserved = Seq("__fp", "__bloom", "__maybe")
    val clash = incoming.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"incoming has columns reserved by incrementalDedupBloom: $clash")
    val seenFp = seen.select(polyHash(col(seenTextCol)).as("__fp"))
    val bloom = seenFp.agg(
      bloomFilter(col("__fp"), numBits, numHashes).as("__bloom"))
    val probed = incoming
      .withColumn("__fp", polyHash(col(textCol)))
      .crossJoin(broadcast(bloom))
      .withColumn("__maybe", bloomContains(col("__bloom"), col("__fp")))
    val definitelyNew = probed.filter(!col("__maybe"))
    val verified = probed.filter(col("__maybe"))
      .join(seenFp.distinct(), Seq("__fp"), "left_anti")
    definitelyNew.unionByName(verified)
      .drop("__fp", "__bloom", "__maybe")
  }

  /** Cross-corpus LSH candidates for incremental ingest: (new_id, seen_id)
    * pairs where an incoming document shares at least one LSH band bucket
    * with a document of the seen corpus.
    *
    * The seen side is the PERSISTED signature table (id, mh0..mh{k-1}) — k
    * longs per historical document, exactly what `minhashSignatures` emits
    * and what a continuously-fed pipeline keeps between ingests. At 100 TB
    * the daily re-cluster this replaces would recompute signatures for the
    * whole corpus; here the only per-ingest work proportional to corpus
    * size is one band-key explode over the signature table (k longs/doc in,
    * bands (8+8)-byte rows out), and the join shuffles band keys, never
    * text. `maxBucketSize` drops seen-side buckets larger than the cap
    * (boilerplate that matches everything — the same quadratic-blowup
    * guard as `minhashCandidates`; 0 disables).
    */
  def incrementalMinhashCandidates(incomingSig: DataFrame,
      seenSig: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = 0): DataFrame = {
    val bkNew = bandKeys(incomingSig, numHashes, bands)
    val bkSeen0 = bandKeys(seenSig, numHashes, bands)
    val bkSeen =
      if (maxBucketSize <= 0) bkSeen0
      else {
        val ok = bkSeen0.groupBy("band", "bkey")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucketSize)
          .drop("bucket_n")
        bkSeen0.join(ok, Seq("band", "bkey"))
      }
    bkNew.select(col("band"), col("bkey"), col("id").as("new_id"))
      .join(bkSeen.select(col("band"), col("bkey"), col("id").as("seen_id")),
        Seq("band", "bkey"))
      .select("new_id", "seen_id").distinct()
  }

  /** Incremental NEAR-dup (MinHash) ingest: the d14 exact-fingerprint
    * discipline extended to the MinHash family. An incoming document is
    * dropped iff
    *  (a) it exact-Jaccard-verifies (≥ threshold) against a seen document
    *      it shares an LSH bucket with, or
    *  (b) it verifies against a SMALLER-id incoming document (greedy
    *      keep-min within the batch — NOT the transitive closure; a chain
    *      a~b, b~c drops both b and c even though a~c was never verified.
    *      Use `Components.nearDupClusters` when closure semantics are
    *      wanted; greedy is deterministic and oracle-replayable).
    *
    * `seenSignatures` is the persisted (id, mh0..mh{k-1}) table from the
    * previous ingest, in `minhashSignatures` output shape (None recomputes
    * it from `seen` text — a small-scale convenience that forfeits the
    * incremental saving). Exact verification
    * of cross pairs still needs seen TEXT, but only for candidate ids: the
    * seen frame is semi-joined down to candidates before shingling, so the
    * full corpus is never re-tokenized.
    */
  def incrementalMinhashDedup(incoming: DataFrame, idCol: String,
      textCol: String, seen: DataFrame, seenIdCol: String,
      seenTextCol: String, seenSignatures: Option[DataFrame] = None,
      n: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.8, maxBucketSize: Int = 0): DataFrame = {
    val sigNew = minhashSignatures(incoming, idCol, textCol, n, numHashes)
    val sigSeen = seenSignatures.getOrElse(
      minhashSignatures(seen, seenIdCol, seenTextCol, n, numHashes))
    val crossCand = incrementalMinhashCandidates(
      sigNew, sigSeen, numHashes, bands, maxBucketSize)
    val setsNew = shingleSets(incoming, idCol, textCol, n)
    val candSeenIds = crossCand.select(col("seen_id").as(seenIdCol)).distinct()
    val setsSeen = shingleSets(
      seen.join(candSeenIds, Seq(seenIdCol), "left_semi"),
      seenIdCol, seenTextCol, n)
    val crossHit = crossCand
      .join(setsNew.select(col("id").as("new_id"),
        col("shingle_set").as("set_a")), "new_id")
      .join(setsSeen.select(col("id").as("seen_id"),
        col("shingle_set").as("set_b")), "seen_id")
      .filter(jaccard(col("set_a"), col("set_b")) >= threshold)
      .select("new_id").distinct()
    val withinHit = verifyPairs(
        minhashCandidates(sigNew, numHashes, bands, maxBucketSize),
        setsNew, threshold)
      .select(col("id_b").as("new_id")).distinct()
    incoming.join(
      crossHit.union(withinHit).distinct().withColumnRenamed("new_id", idCol),
      Seq(idCol), "left_anti")
  }

  /** (id, shingle_set) — the unit table for Jaccard-style dedup.
    * Tokens are materialized in their own projection before shingling:
    * HOF lambdas re-evaluate inline argument expressions per element, so
    * shingling directly over split(text) is O(len²) per document (a 20×
    * slowdown measured at 5k docs).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        shingleSetFromTokens(col("__toks"), n).as("shingle_set"))
      .filter(size(col("shingle_set")) > 0)

  /** MinHash signatures: one row per id with columns mh0..mh{k-1}.
    *
    * explode(shingles) → per-shingle polyHash → groupBy(id).agg(min of k
    * permutations). The k mins are map-side combinable, so the shuffle
    * carries k longs per document regardless of document size.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 8): DataFrame = {
    require(numHashes <= MinHashA.length, s"at most ${MinHashA.length} hashes")
    // compiled per-row fold (r18): the k minima come straight off each
    // document's shingle array — no explode, no aggregation exchange.
    // Bit-identical to the exploded min-agg form (SigKernelsSpec).
    val sig = graft.core.Graft.column(
      graft.functions.expressions.MinHashSig(
        graft.core.Graft.expression(col("shingle_set")), numHashes))
    // the kernel lands in its OWN projection: CollapseProject keeps
    // non-cheap expressions single-evaluation, so the k element_at
    // reads never duplicate the fold
    shingleSets(df, idCol, textCol, n)
      .select(col("id"), sig.as("__sig"))
      .select(col("id") +: (0 until numHashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"mh$i")): _*)
  }

  /** LSH band keys from a signature frame: (id, band, bkey) where bkey
    * packs the band's r hashes into one long (each < HashMod < 2^30).
    */
  def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // one scan + explode, NOT a bands-way union: a union re-reads (or at
    // best re-projects) the signature frame once per band
    val bandStructs = array((0 until bands).map { b =>
      val cols = (0 until r).map(j => col(s"mh${b * r + j}"))
      // positional packing acc*HashMod + c is EXACT (and SQL-replayable,
      // which the d02 oracle depends on) only while it fits a long:
      // values < 2^30, so r ≤ 2. Wider bands hash-combine instead —
      // under ANSI the old packing would throw ARITHMETIC_OVERFLOW at
      // r ≥ 3 (and silently conflate buckets with ANSI off). A hash
      // collision can only ADD a candidate pair, which the exact-Jaccard
      // verify stage then rejects — never lose one.
      val key =
        if (r <= 2) cols.reduceLeft((acc, c) => acc * HashMod + c)
        else xxhash64(cols: _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }: _*)
    sig.select(col("id"), explode(bandStructs).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Candidate id pairs (id_a < id_b) sharing at least one LSH bucket.
    * Buckets larger than `maxBucketSize` are dropped (documented skew /
    * quadratic-blowup guard; 0 disables).
    */
  def minhashCandidates(sig: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = 0): DataFrame = {
    // NOTE on reuse: the band-key frame feeds both sides of the self-join;
    // Catalyst's ReuseExchange deduplicates the identical subplans, and
    // measured at sf0.1 an explicit cache here is a net LOSS (array
    // serialization + broken pipelining cost more than the recompute).
    val keys0 = bandKeys(sig, numHashes, bands)
    val keys =
      if (maxBucketSize <= 0) keys0
      else {
        val ok = keys0.groupBy("band", "bkey")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucketSize)
          .drop("bucket_n")
        keys0.join(ok, Seq("band", "bkey"))
      }
    val a = keys.select(col("band"), col("bkey"), col("id").as("id_a"))
    val b = keys.select(col("band"), col("bkey"), col("id").as("id_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Full MinHash near-dup pipeline: LSH candidates verified by exact
    * shingle-set Jaccard ≥ threshold. Output: id_a, id_b, jaccard.
    */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.8, maxBucketSize: Int = 0): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, n, numHashes)
    val cand = minhashCandidates(sig, numHashes, bands, maxBucketSize)
    verifyPairs(cand, shingleSets(df, idCol, textCol, n), threshold)
  }

  /** Join candidate pairs to shingle sets and keep exact Jaccard ≥ t. */
  def verifyPairs(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sets.select(col("id").as("id_a"), col("shingle_set").as("set_a"))
    val sb = sets.select(col("id").as("id_b"), col("shingle_set").as("set_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("set_a"), col("set_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate pairs verified by CONTAINMENT instead of Jaccard:
    * C(A→B) = |A∩B|/|A|. The quote/subset detector — a short document
    * embedded verbatim in a long one has high containment but LOW
    * Jaccard (the union is dominated by the long side), so a Jaccard
    * threshold misses exactly the pairs a decontamination or
    * quotation-mining pass cares about. Emits both directions plus
    * their max; a pair survives when max(C_ab, C_ba) ≥ threshold.
    *
    * Honest recall caveat: candidates still come from the MinHash-LSH
    * generator, whose collision probability tracks JACCARD — extreme
    * size-ratio pairs (tweet inside a book) may never become
    * candidates. For those, block on the SHORT side's full signature
    * or fall back to the X49 span/ExactSubstr machinery, which is
    * containment-shaped by construction.
    */
  def containmentPairs(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sets.select(col("id").as("id_a"), col("shingle_set").as("set_a"))
    val sb = sets.select(col("id").as("id_b"), col("shingle_set").as("set_b"))
    val inter = size(array_intersect(col("set_a"), col("set_b")))
      .cast("double")
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        (inter / size(col("set_a")).cast("double")).as("cont_ab"),
        (inter / size(col("set_b")).cast("double")).as("cont_ba"))
      .withColumn("containment", greatest(col("cont_ab"), col("cont_ba")))
      .filter(col("containment") >= threshold)
  }

  /** EXACT all-pairs Jaccard join via prefix filtering (SSJoin/AllPairs
    * /PPJoin lineage — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07,
    * Xiao et al. WWW'08): the third point of the dedup design space.
    * Brute force (d03) is exact but O(n²); MinHash-LSH (X39) is
    * subquadratic but probabilistic (candidate recall < 1). Prefix
    * filtering is BOTH: order every set by one global rare-first token
    * order, index only each set's first |X| − ⌈t·|X|⌉ + 1 tokens, and
    * any pair with J ≥ t provably shares an indexed token — so
    * candidates come from an equi-join on prefix tokens and the exact
    * verify loses nothing. Result ≡ brute force, by construction.
    *
    * Scale shape: candidate volume is driven by the RARE end of the
    * vocabulary (each set's prefix is its rarest tokens, whose postings
    * lists are the shortest — the reason the rare-first order is not a
    * heuristic but the load-bearing choice); the size filter
    * t·|B| ≤ |A| prunes cross-magnitude pairs before verification. Two
    * token-keyed shuffles (frequency attach, prefix self-join) and one
    * id-keyed verify join; documents never shuffle.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    graft.core.Lineage.materialized { scope =>
      // Persist the shingle sets: they feed the inverted index (occ → freq
      // and occ → ordered are two scans) AND both sides of the verify join
      // — without the cache the tokenize+shingle pipeline re-executes per
      // consumer (guide §2.4).
      val sets = scope.persisted(shingleSets(df, idCol, textCol, n))
      val occ = sets.select(col("id"), explode(col("shingle_set")).as("s"))
      val freq = occ.groupBy("s").agg(count(lit(1)).as("cnt"))
      // global rare-first total order, ties broken on the token itself so
      // every engine/run derives the same prefix
      val ordered = occ.join(freq, "s")
        .groupBy("id")
        .agg(array_sort(collect_list(struct(col("cnt"), col("s"))))
          .as("ord"))
        .select(col("id"), col("ord"), size(col("ord")).as("sz"))
      val prefixLen =
        (col("sz") - ceil(col("sz") * lit(threshold)) + 1).cast("int")
      val prefixes = ordered
        .select(col("id"), col("sz"),
          explode(slice(col("ord"), lit(1), prefixLen)).as("p"))
        .select(col("id"), col("sz"), col("p.s").as("s"))
      val cand = prefixes.alias("a").join(prefixes.alias("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
            col("b.sz").cast("double") >= col("a.sz") * lit(threshold) &&
            col("a.sz").cast("double") >= col("b.sz") * lit(threshold))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      verifyPairs(cand, sets, threshold)
    }
  }

  /** MinHash-LSH candidates verified at containment ≥ threshold. */
  def containmentNearDuplicates(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.7, maxBucketSize: Int = 0): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, n, numHashes)
    val cand = minhashCandidates(sig, numHashes, bands, maxBucketSize)
    containmentPairs(cand, shingleSets(df, idCol, textCol, n), threshold)
  }

  /** SimHash bit-hash constants: multiplier/offset per bit, derived from a
    * fixed recurrence so any engine can regenerate them.
    */
  val SimHashBits: Int = graft.functions.expressions.SimHashPack.Bits
  def simA(j: Int): Long = graft.functions.expressions.SimHashPack.a(j)
  def simB(j: Int): Long = graft.functions.expressions.SimHashPack.b(j)

  /** Per-document SimHash: for each bit j, sign of Σ_shingles
    * (±1 by parity of an independent permutation of the shingle hash).
    * Compiled per-row fold over the shingle array (r18): no explode, no
    * 48-column aggregation exchange. Bit-identical to the exploded
    * sum-agg form (SigKernelsSpec pins equality).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col("id"), graft.core.Graft.column(
        graft.functions.expressions.SimHashPack(
          graft.core.Graft.expression(col("shingle_set")))).as("simhash"))

  /** SimHash near-dup pairs: band on bit-chunks (standard hamming-space
    * LSH), verify with popcount(xor) ≤ maxHamming.
    */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bandBits: Int = 6, maxHamming: Int = 10): DataFrame = {
    require(SimHashBits % bandBits == 0,
      s"bandBits must divide $SimHashBits — a remainder would silently " +
        "exempt the top bits from candidate generation")
    val sh = simhash(df, idCol, textCol, n)
    val bands = SimHashBits / bandBits
    // single-pass explode of (band, bkey) structs — see bandKeys note
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bkey"))
    }: _*)
    val keys = sh.select(col("id"), col("simhash"),
      explode(bandStructs).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"))
    val a = keys.select(col("band"), col("bkey"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = keys.select(col("band"), col("bkey"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).as("hamming_dist"))
      .distinct()
      .filter(col("hamming_dist") <= maxHamming)
  }

  /** O(n²) exact Jaccard pairs — correctness baseline for the LSH paths.
    * Optional blocking column keeps the cross product per-block.
    */
  def bruteForceJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n)
    val a = sets.select(col("id").as("id_a"), col("shingle_set").as("set_a"))
    val b = sets.select(col("id").as("id_b"), col("shingle_set").as("set_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("set_a"), col("set_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
