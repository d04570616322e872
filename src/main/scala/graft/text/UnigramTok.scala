package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.functions.expressions.{ViterbiSegment, VocabTable}

/** Unigram-LM tokenizer induction (SentencePiece lineage, Kudo 2018) —
  * the probabilistic sibling of the greedy-merge BPE trainer in
  * [[Bpe]]: instead of growing a vocabulary bottom-up by pair merges,
  * start from a LARGE substring seed vocabulary, fit piece
  * probabilities by (hard) EM, and keep the most useful pieces.
  *
  * Every stage is engine-portable arithmetic (the repo-wide micro-nat
  * integer log-prob convention: lw = −⌊ln(p)·10⁶ + 0.5⌋ as a long), so
  * the seed census (gate t57), a full Viterbi E-step (gate t58,
  * replayed EXHAUSTIVELY in SQL — every segmentation enumerated by a
  * recursive CTE, the DP's argmin matched by ORDER BY cost, count,
  * boundary-mask), AND the hard-EM training loop itself (gate t59 —
  * two unrolled E/M rounds plus the prune, chained CTEs off the t58
  * machinery) are oracle-gated, not just spec'd.
  *
  * Scale shape: the corpus is touched ONCE (word census — the same
  * weighted-vocabulary move as `Bpe.mergeLoop`; every EM round then
  * runs at DISTINCT-WORD size, not corpus size). The E-step is one
  * compiled `ViterbiSegment` call per distinct word (map-side) + one
  * piece-count aggregation (map-side combined, shuffle bounded by the
  * live vocabulary); the M-step is a model-sized vocabulary refresh.
  * Nothing in the loop is corpus-sized.
  */
object UnigramTok {

  /** Distinct-word census: (word, wcnt), lower-cased whitespace tokens
    * (the `Bpe.topPairs` convention), words longer than `maxWordLen`
    * chars dropped (they would exceed the 62-bit boundary mask long
    * before they helped a subword vocabulary).
    */
  def wordCensus(df: DataFrame, textCol: String,
      maxWordLen: Int = 20): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("wcnt"))

  /** Occurrence-weighted census of ALL substrings of length
    * 1..`maxPieceLen` of the censused words: (piece, cnt). The standard
    * unigram-LM seed (SentencePiece's suffix-array seed, expressed as a
    * bounded substring explosion — words are ≤ maxWordLen chars, so the
    * blowup per word is ≤ maxWordLen·maxPieceLen rows, a constant).
    * The outer sequence/substring HOFs only reference the `word`
    * ATTRIBUTE inside lambdas (attribute lookups are free — the
    * per-element re-eval trap needs an expensive captured subtree).
    */
  def seedPieces(words: DataFrame, maxPieceLen: Int = 6): DataFrame =
    words.select(col("wcnt"), explode(expr(
      s"""flatten(transform(sequence(1, length(word)), i ->
         |  transform(sequence(i, least(length(word), i + ${maxPieceLen - 1})),
         |    j -> substring(word, i, j - i + 1))))""".stripMargin))
        .as("piece"))
      .groupBy("piece").agg(sum(col("wcnt")).as("cnt"))

  /** Seed vocabulary: every single character (segmentability guarantee)
    * plus the top `multiPieces` multi-char substrings by (cnt DESC,
    * piece ASC), with micro-nat costs from the within-vocab relative
    * frequencies: cost = −⌊ln(cnt/total)·10⁶ + 0.5⌋. Output
    * (piece, cnt, cost), the replayable model frame.
    */
  def seedVocab(words: DataFrame, maxPieceLen: Int = 6,
      multiPieces: Int = 200): DataFrame = {
    val pieces = seedPieces(words, maxPieceLen)
    val chars = pieces.filter(length(col("piece")) === 1)
    val multi = pieces.filter(length(col("piece")) >= 2)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("piece").asc)))
      .filter(col("rnk") <= multiPieces)
      .drop("rnk")
    withCosts(chars.unionByName(multi))
  }

  /** Micro-nat costs from a (piece, cnt) frame — cost over the frame's
    * OWN total, the normalization both gates' oracles recompute.
    *
    * The total is one `.first()` job folded in as a literal. Carrying it
    * instead as a broadcast 1-row cross join inside the plan ran MORE
    * jobs, not fewer: 20 vs 15 Spark jobs per t59 call and 22 vs 17 per
    * t60 call at sf0.1 (local[4]), with 510 vs 373 ms of task time on
    * t59, and was slower on both gates in every A/B pair.
    */
  private def withCosts(pieceCnt: DataFrame): DataFrame = {
    val total = pieceCnt.agg(sum(col("cnt"))).first().getLong(0)
    pieceCnt.withColumn("cost",
      (-floor(log(col("cnt").cast("double") / lit(total.toDouble))
        * lit(1000000.0) + lit(0.5))).cast("long"))
  }

  /** Collect a (piece, cost) vocabulary frame into the compiled
    * expression's table form — model-sized, never data-sized.
    */
  def vocabOf(vocabDf: DataFrame): VocabTable =
    VocabTable(vocabDf.select("piece", "cost").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** Best segmentation (array of pieces) of a word column — the
    * compiled Viterbi DP; see [[ViterbiSegment]] for the argmin triple
    * contract that makes it exhaustively replayable.
    */
  def segment(word: Column, vocab: VocabTable): Column =
    graft.core.Graft.column(ViterbiSegment(
      graft.core.Graft.expression(word), vocab))

  /** Hard-EM E-step: Viterbi-segment every censused word, count pieces
    * weighted by word frequency. Words the vocabulary cannot segment
    * (impossible for seed vocabs, possible after pruning) contribute
    * nothing. Output (piece, cnt).
    */
  def estepCounts(words: DataFrame, vocab: VocabTable): DataFrame =
    words.select(col("wcnt"),
      explode(segment(col("word"), vocab)).as("piece"))
      .groupBy("piece").agg(sum(col("wcnt")).as("cnt"))

  /** M-step: refresh the vocabulary from E-step piece counts. Every
    * single char of the census survives floored at count 1 (the
    * segmentability guarantee — a char EM stopped using must stay
    * reachable for serving); multi-char pieces live on their E-step
    * counts alone (count 0 → dropped). Returns (piece, cnt, cost)
    * re-normalized over the refreshed frame.
    */
  def emTrainStep(words: DataFrame, counts: DataFrame): DataFrame = {
    val chars = words
      .select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("piece"))
      .groupBy("piece").agg(lit(1L).as("one"))
    val refreshed = chars.join(counts, Seq("piece"), "full_outer")
      .select(col("piece"),
        when(col("one").isNotNull,
          greatest(coalesce(col("cnt"), lit(0L)), lit(1L)))
          .otherwise(col("cnt")).as("cnt"))
      .filter(col("cnt") >= 1)
    withCosts(refreshed)
  }

  /** Hard-EM training loop: seed → (E-step counts → M-step refresh) ×
    * `iters` → prune to `vocabSize`. Pruning keeps the top `vocabSize`
    * multi-char pieces by (cnt DESC, piece ASC) plus all chars. Hard EM
    * is coordinate descent on total Viterbi cost (M-step optimal for
    * fixed segmentation, E-step optimal for fixed costs), so corpus
    * cost is non-increasing up to micro-nat rounding — UnigramTokSpec
    * pins that. Returns (piece, cnt, cost).
    */
  def emTrain(df: DataFrame, textCol: String, vocabSize: Int = 400,
      iters: Int = 2, maxPieceLen: Int = 6, multiPieces: Int = 400,
      maxWordLen: Int = 20): DataFrame =
    emTrainWords(wordCensus(df, textCol, maxWordLen), vocabSize, iters,
      maxPieceLen, multiPieces)

  /** The training loop over an explicit (word, wcnt) census — the form
    * gate t59 replays (its census is a bounded top-N word subset so the
    * oracle's exhaustive-enumeration E-steps stay tractable; the loop
    * code is THIS one either way).
    */
  def emTrainWords(words: DataFrame, vocabSize: Int = 400,
      iters: Int = 2, maxPieceLen: Int = 6, multiPieces: Int = 400)
      : DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    words.persist()
    var vocabDf = seedVocab(words, maxPieceLen, multiPieces)
    var i = 0
    while (i < iters) {
      vocabDf = emTrainStep(words, estepCounts(words, vocabOf(vocabDf)))
      i += 1
    }
    val pruned = {
      val chars = vocabDf.filter(length(col("piece")) === 1)
      val multi = vocabDf.filter(length(col("piece")) >= 2)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cnt").desc, col("piece").asc)))
        .filter(col("rnk") <= vocabSize)
        .drop("rnk")
      withCosts(chars.unionByName(multi).select("piece", "cnt"))
    }
    val out = pruned.select("piece", "cnt", "cost")
    out.persist().count()
    words.unpersist()
    out
  }

  /** Total corpus cost (micro-nats) of segmenting the census under a
    * vocabulary — the hard-EM objective UnigramTokSpec tracks.
    */
  def corpusCost(words: DataFrame, vocab: VocabTable): Long = {
    import scala.jdk.CollectionConverters._
    val costDf = words.sparkSession.createDataFrame(
      vocab.costs.asScala.toSeq.map { case (p, c) => (p, c.longValue()) })
      .toDF("piece", "cost")
    words.select(col("wcnt"), segment(col("word"), vocab).as("pieces"))
      .filter(col("pieces").isNotNull)
      .select(explode(col("pieces")).as("piece"), col("wcnt"))
      .join(broadcast(costDf), Seq("piece"))
      .agg(sum(col("wcnt") * col("cost"))).first().getLong(0)
  }
}
