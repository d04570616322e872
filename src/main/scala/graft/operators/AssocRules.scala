package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Lineage

/** Pairwise association rules — support / confidence / lift over
  * item co-occurrence, the market-basket readout on top of the pair
  * counting the reference's TAAR guid-guid job performs
  * (`taar/taar_lite_guidguid.py:93-130` counts co-installations; the
  * analyst's next question — "which co-occurrences are SURPRISING given
  * the marginals?" — is lift). Agrawal & Srikant's Apriori (VLDB 1994)
  * restricted to 2-itemsets: the pair level is where the curation
  * decisions live (bundling, cross-domain leakage, template detection),
  * and it keeps the operator one self-join instead of a lattice walk.
  *
  * Apriori pruning is load-bearing at scale: a pair can only reach
  * `minCount` if BOTH items do, so items are counted first (one
  * map-side-combined aggregation), infrequent items are semi-joined
  * away, and only then does the per-basket self-join run — the pair
  * explosion is bounded by the frequent-item margin, not the raw
  * catalog. Hub baskets (one basket containing half the catalog)
  * should be capped upstream like LSH buckets.
  *
  * Exactness: counts are exact longs; support/confidence/lift are
  * fixed IEEE expressions over them (numerators and denominators also
  * emitted raw, so any engine replays the doubles bitwise).
  *
  * Output: one row per ORDERED rule a→b (both directions emitted),
  * (antecedent, consequent, n_pair, n_a, n_b, n_baskets, support,
  * confidence, lift).
  */
object AssocRules {

  /** Mine pairwise rules from (basketCol, itemCol) rows. Duplicate
    * (basket, item) rows collapse first — presence, not multiplicity,
    * is the itemset semantic. Rules with pair count < `minCount` are
    * pruned (and so are items below it, by Apriori monotonicity).
    */
  def pairRules(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long): DataFrame = {
    require(minCount >= 1L, "minCount must be >= 1")
    Lineage.materialized { scope =>
      // Persist the presence frame: it feeds the basket total, the item
      // margin AND both sides of the pair self-join — without the cache the
      // upstream lineage (for the q80 gate, a lineitem⋈part join +
      // distinct) re-executes per consumer (two duplicated 5.5 MB map
      // stages in the r18 profile — guide §2.4). The frequent-item margin
      // is persisted too: it is broadcast three times below, and each
      // broadcast build otherwise re-aggregates the corpus.
      val present = scope.persisted(
        df.select(col(basketCol).as("b"), col(itemCol).as("i"))
          .filter(col("b").isNotNull && col("i").isNotNull)
          .distinct())
      val nBaskets = present.groupBy().agg(
        countDistinct(col("b")).as("n_baskets"))
      val itemCounts = scope.persisted(present.groupBy(col("i"))
        .agg(count(lit(1)).as("n_i"))
        .filter(col("n_i") >= minCount))
      val frequent = present
        .join(broadcast(itemCounts.select(col("i"))), Seq("i"), "left_semi")
      val pairs = frequent.alias("l")
        .join(frequent.alias("r"), col("l.b") === col("r.b") &&
          col("l.i") < col("r.i"))
        .groupBy(col("l.i").as("ia"), col("r.i").as("ib"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= minCount)
      // both rule directions via ONE explode of the pair row — a
      // two-branch union would re-run the whole basket self-join pipeline
      // per branch (plan-level duplication that only runtime exchange
      // reuse might recover)
      val directed = pairs
        .select(explode(array(
          struct(col("ia").as("a"), col("ib").as("b")),
          struct(col("ib").as("a"), col("ia").as("b")))).as("e"),
          col("n_pair"))
        .select(col("e.a").as("a"), col("e.b").as("bb"), col("n_pair"))
      val withCounts = directed
        .join(broadcast(itemCounts.select(col("i").as("a"),
          col("n_i").as("n_a"))), Seq("a"))
        .join(broadcast(itemCounts.select(col("i").as("bb"),
          col("n_i").as("n_b"))), Seq("bb"))
        .crossJoin(broadcast(nBaskets))
      // fixed IEEE shape over exact longs — mirrored in oracles
      withCounts.select(
        col("a").as("antecedent"), col("bb").as("consequent"),
        col("n_pair"), col("n_a"), col("n_b"), col("n_baskets"),
        (col("n_pair").cast("double") / col("n_baskets").cast("double"))
          .as("support"),
        (col("n_pair").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        (col("n_baskets").cast("double") * col("n_pair").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
    }
  }
}
