package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the cluster-
  * resolution step a dedup pipeline needs AFTER pair generation: MinHash /
  * SimHash emit near-duplicate PAIRS, but keep-one-per-group semantics need
  * the transitive closure (a~b, b~c ⇒ keep one of {a,b,c}).
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round does (1) label(u) ← min(label(u), min over neighbours v of
  * label(v)) and (2) label(u) ← label(label(u)). Step 2 (pointer jumping)
  * collapses label chains, giving O(log diameter) convergence instead of
  * O(diameter) — the standard trick from the MapReduce connected-components
  * literature (Kiveris et al., "Connected Components in MapReduce and
  * Beyond"). Labels start at the node's own id, only ever decrease, and at
  * the fixpoint every component carries its minimum member id.
  *
  * Scale design (100 TB, 1000 executors):
  *  - Each round is two shuffles (a grouped min and a label-to-label join)
  *    over (id, label) pairs — 16 bytes/node, never documents.
  *  - Lineage is truncated every round with localCheckpoint; without it the
  *    plan doubles per iteration and the job dies on driver planning long
  *    before data size matters. On a cluster with an unreliable executor
  *    pool, swap localCheckpoint for a reliable checkpoint dir.
  *  - Convergence is detected by the sum of labels (strictly decreasing
  *    until fixpoint, since labels only ever move down) — one cheap scalar
  *    action per round instead of a change-count join.
  *  - Near-dup graphs are overwhelmingly tiny stars/cliques, so rounds ≈ 2
  *    in practice; maxIter bounds the pathological chain (2^maxIter-node
  *    path diameter — hitting it returns the partial labelling, correct
  *    within every already-collapsed region).
  */
object Components {

  /** (id, component) for every node appearing in `edges`; component is the
    * minimum node id reachable from the node. Null endpoints and self-loops
    * are dropped. The convergence test sums labels as DECIMAL(38,0): labels
    * only ever decrease, so the sum strictly decreases until fixpoint, and
    * the decimal sum cannot wrap the way a long sum could at
    * billions-of-nodes × 64-bit-id scale.
    *
    * Adaptive execution (the broadcast-threshold philosophy): the edge
    * list is materialized once; at or below `localEdgeThreshold` edges the
    * labels come from a driver-side union-find — a near-dup graph is
    * usually minuscule next to its corpus, and the iterative loop's cost
    * there is pure driver round-trip latency, not data. Above the
    * threshold (or with it set to 0) the distributed min-label loop runs.
    * Both paths produce identical labels (ComponentsSpec pins them
    * against each other on random graphs).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20, localEdgeThreshold: Long = 1L << 20): DataFrame = {
    // Fail fast on non-integral ids: the long cast below would throw
    // CAST_INVALID_INPUT mid-job under ANSI (string ids), and the
    // label-sum convergence test needs numeric labels. Map string keys to
    // dense longs (zipWithIndex / xxhash64) before calling this.
    Seq(srcCol, dstCol).foreach { c =>
      import org.apache.spark.sql.types._
      val dt = edges.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents needs integral node ids; '$c' is $dt")
    }
    // Materialize the (possibly expensive — MinHash LSH) edge lineage
    // exactly once; the size probe, the symmetrize, and every loop
    // iteration read the checkpoint, never the lineage.
    graft.core.Lineage.scoped { scope =>
      val e = scope.cut(edges
        .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
          col(srcCol) =!= col(dstCol))
        .select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst")), eager = true)
      if (e.count() <= localEdgeThreshold) {
        val spark = e.sparkSession
        import spark.implicits._
        localUnionFind(e.as[(Long, Long)].collect()).toSeq.toDF("id", "comp")
      } else graft.core.Lineage.materialized { rounds =>
        val sym = rounds.cut(e
          .union(e.select(col("dst").as("src"), col("src").as("dst")))
          .distinct(), eager = true)
        scope.release(e)
        minLabelLoop(sym, maxIter, rounds)
      }
    }
  }

  /** The distributed min-label loop over the symmetric edge list `sym`;
    * each round's labels are cut and the previous round's released.
    */
  private def minLabelLoop(sym: DataFrame, maxIter: Int,
      scope: graft.core.Lineage.Scope): DataFrame = {
    var labels = scope.cut(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")), eager = true)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(
          sum(col("comp").cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)))
        .first().getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    // no isEmpty pre-check: an empty label frame sums to 0, matches prevSum
    // after one (trivially cheap) round, and exits — cheaper than paying an
    // extra driver action on every non-empty call
    var converged = false

    while (!converged && iter < maxIter) {
      // (1) neighbour min: grouped agg over (dst → min comp of src side)
      val nbrMin = sym.join(labels, sym("src") === labels("id"))
        .groupBy(sym("dst").as("id")).agg(min("comp").as("ncomp"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // (2) pointer jump: comp ← comp(comp). Every label IS a node id, so
      // the self-join always finds it; inner join is safe but left keeps
      // the invariant obvious.
      val byId = propagated.select(col("id").as("cid"), col("comp").as("ccomp"))
      val jumped = scope.cut(
        propagated.join(byId, propagated("comp") === byId("cid"), "left")
          .select(propagated("id"),
            coalesce(col("ccomp"), col("comp")).as("comp")), eager = true)
      val s = labelSum(jumped)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      scope.release(labels)
      labels = jumped
      iter += 1
    }
    labels
  }

  /** Driver-side union-find with iterative path compression and min-id
    * roots (labels match the distributed loop exactly). Iterative find —
    * a recursive one would blow the stack on a million-edge chain.
    */
  private[graft] def localUnionFind(
      pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElseUpdate(x, x) != x) x = parent(x)
      // path compression
      var y = x0
      while (parent(y) != x) { val next = parent(y); parent(y) = x; y = next }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(x => x -> find(x)).toMap
  }

  /** Shared keep-one labelling kernel: given the full id universe and the
    * (id, comp) component labels of the ids that appeared on edges, label
    * EVERY id (singletons keep their own id) with cluster id, cluster
    * size, and keep = 1 on the cluster's minimum id.
    *
    * Output: (idCol, cluster_id, cluster_size, keep ∈ {0,1}).
    */
  def labelClusters(universe: DataFrame, idCol: String,
      comps: DataFrame): DataFrame = {
    val labelled = universe.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster_id"))
    val sizes = labelled.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labelled.join(sizes, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        (col(idCol) === col("cluster_id")).cast("int").as("keep"))
  }

  /** Deterministic dense long ids for an ARBITRARY id column — the
    * documented remedy for `connectedComponents`' integral-id requirement
    * (string doc ids are the norm in crawl data), also usable ahead of
    * [[graft.graph.PageRank]]. Output: (idCol, nid) with nid = 0..n−1 in
    * the id column's natural sort order.
    *
    * Distributed and deterministic: range-repartition + sort-within-
    * partitions gives a total order, and zipWithIndex numbers it without
    * ever collecting or single-partitioning (the naive row_number over a
    * global ORDER BY window funnels every id through ONE task). Because
    * the numbering is monotone in the id's natural order, min-nid
    * semantics downstream (cluster keep-ids) translate back to "minimum
    * original id".
    */
  def denseIdMap(df: DataFrame, idCol: String,
      outCol: String = "nid"): DataFrame = {
    require(idCol != outCol, s"idCol and outCol are both '$idCol'")
    val spark = df.sparkSession
    val distinct = df.select(col(idCol)).filter(col(idCol).isNotNull)
      .distinct()
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(idCol)
    val schema = org.apache.spark.sql.types.StructType(
      distinct.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = distinct.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Full near-dup cluster assignment for a document frame: MinHash LSH
    * pairs → connected components → keep-one labelling (labelClusters).
    *
    * Non-integral id columns (string doc ids) are handled transparently:
    * ids pass through `denseIdMap`, the clustering runs on dense longs,
    * and the output carries the ORIGINAL ids — cluster_id is the
    * cluster's minimum original id (numbering is monotone in the id's
    * natural order), so `keep` marks the same rows a pre-mapped caller
    * would get.
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.8, maxBucketSize: Int = 0): DataFrame = {
    import org.apache.spark.sql.types._
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(df.schema(idCol).dataType)
    if (integral) {
      val pairs = NearDup.minhashNearDuplicates(df, idCol, textCol, n,
        numHashes, bands, threshold, maxBucketSize)
      labelClusters(df, idCol, connectedComponents(pairs, "id_a", "id_b"))
    } else {
      require(!df.columns.contains("__nid"),
        "input already has a '__nid' column (reserved)")
      val idMap = denseIdMap(df, idCol, "__nid")
      val remapped = df.join(idMap, Seq(idCol))
      val pairs = NearDup.minhashNearDuplicates(remapped, "__nid", textCol,
        n, numHashes, bands, threshold, maxBucketSize)
      val labelled = labelClusters(remapped.select(col("__nid")), "__nid",
        connectedComponents(pairs, "id_a", "id_b"))
      labelled
        .join(idMap, Seq("__nid"))
        .join(idMap.select(col(idCol).as("__cluster_orig"),
          col("__nid").as("cluster_id")), Seq("cluster_id"))
        .select(col(idCol), col("__cluster_orig").as("cluster_id"),
          col("cluster_size"), col("keep"))
    }
  }
}
