package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors: partition the
  * corpus into `nlist` Voronoi cells via k-means, then search only the
  * `nprobe` cells closest to each query.
  *
  * The complementary scale path to `Ann.lshTopK`: IVF adapts to the data
  * distribution (cells follow density; recall degrades gracefully with
  * nprobe), where hyperplane LSH is data-independent. At 100 TB the
  * corpus is stored PARTITIONED BY cell id, so a query with nprobe=8
  * touches 8/nlist of the data — partition pruning does the rest.
  *
  * All list assignment/scoring is double-precision column math (dot
  * products via Ann.dot); only centroid training uses MLlib KMeans.
  */
object Ivf {

  case class Model(centroids: Seq[(Int, Array[Double])])

  /** Corpus-scaled cell count — the sizing rule that keeps IVF search
    * cost growth subquadratic. Per-query work is `nlist` centroid ranks
    * (map-side dots) plus ~`nprobe · n / nlist` scanned cell rows
    * (joined candidate pairs — the expensive term); the sum is
    * minimized at nlist = √(nprobe · n), the standard flat-IVF sizing
    * order (FAISS's guidance is the same √n scale). A FIXED nlist turns
    * the candidate join quadratic as the corpus grows — each cell holds
    * n/nlist rows, so total candidates grow n²; the r14 scale probe
    * measured exactly that on the q83 mutual-NN gate (nlist pinned at 8
    * for oracle replay: 16× wall at 10× data) — while √-sizing bounds
    * the self-join total at Θ(n^1.5), the flat-IVF law. `weight` skews
    * the balance toward more cells when candidate-pair work costs more
    * than a centroid rank (it does: pairs ride a shuffle join), at the
    * price of a bigger centroid literal/broadcast.
    */
  def autoNlist(corpusRows: Long, nprobe: Int = 1, weight: Double = 1.0)
      : Int = {
    require(corpusRows >= 1, s"corpusRows must be >= 1: $corpusRows")
    require(nprobe >= 1, s"nprobe must be >= 1: $nprobe")
    require(weight > 0.0, s"weight must be > 0: $weight")
    math.max(1L, math.min(corpusRows, math.round(
      math.sqrt(corpusRows.toDouble * nprobe * weight)))).toInt
  }

  /** Train cell centroids with seeded k-means over the corpus vectors. */
  def train(corpus: DataFrame, vecCol: String, nlist: Int,
      seed: Long = 42L): Model = {
    val feat = corpus.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val km = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features")
    val model = km.fit(feat)
    Model(model.clusterCenters.zipWithIndex
      .map { case (v, i) => i -> v.toArray }.toSeq)
  }

  /** Deterministic hash-ordered centroid sample: the `nlist` corpus
    * vectors with the smallest `(id * 2654435761) % 1000003` hash key.
    * A legitimate IVF seeding (sampled centroids, as in FAISS's
    * `train_type=no_train` usage) whose whole pipeline is replayable in
    * any SQL engine — used by the d07 gate oracle, where MLlib KMeans's
    * reduce order would not be bit-reproducible across engines.
    */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Model = {
    val rows = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("hk", (col("id") * lit(2654435761L)) % lit(1000003L))
      .orderBy("hk", "id")
      .limit(nlist) // TakeOrderedAndProject: per-partition top-n, no shuffle
      .collect()
    Model(rows.zipWithIndex.map { case (r, i) =>
      i -> r.getSeq[Double](r.fieldIndex("v")).toArray
    }.toSeq)
  }

  /** The model as the compiled-rank expression's table form (cid-sorted,
    * |c|² left-folded on the driver — the bitwise-replay invariants).
    */
  private def cellTable(model: Model)
      : graft.functions.expressions.CentroidTable =
    graft.functions.expressions.CentroidTable(model.centroids)

  /** Top-n cell ids of a vector column against the model, as ONE
    * compiled call per row (`NearestCells`). Replaces the HOF
    * `array_min`/`array_sort`-over-`transform(centroid-literal, ...)`
    * trees: HOFs are CodegenFallback — every centroid cost an
    * interpreted lambda dispatch + boxed struct, measured at ~10-20× the
    * arithmetic in the r14 scale probe (PLANS.md hier finding 2). Values
    * are bit-identical (same rel_dist, same fold order, same
    * (rel_dist, cid) tie-break), so every gate oracle replays unchanged.
    */
  private[similarity] def nearestCells(vec: Column, model: Model,
      n: Int): Column =
    graft.core.Graft.column(graft.functions.expressions.NearestCells(
      graft.core.Graft.expression(vec), cellTable(model), n))

  /** Assign each row to its nearest centroid, entirely map-side: the
    * centroid table rides the plan as one opaque model-sized reference
    * inside the compiled `NearestCells` rank (argmin = top-1 on
    * rel_dist = |c|² − 2·v·c with cid tie-break — the |v|² term is
    * constant per row). Zero exchanges: at 100 TB this is the difference
    * between a free pass over the corpus and a full-corpus shuffle (the
    * pre-r5 broadcast-join + groupBy/min_by formulation hash-exchanged
    * every (id, vector) row once; the r5-r14 HOF literal form was
    * exchange-free but interpreted per centroid).
    *
    * @param keep attribute columns carried through after (id, cid, vec)
    *             — the filtered-search path persists these next to the
    *             codes so a predicate can run INSIDE the probed cells
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      model: Model, keep: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("id") +: col(vecCol).as("vec") +:
        keep.map(col): _*)
      .withColumn("cid", nearestCells(col("vec"), model, 1).getItem(0))
      .select(col("id") +: col("cid") +: col("vec") +: keep.map(col): _*)

  /** Probe-side rows (query × nprobe, each carrying the full query
    * vector) at or below this count are broadcast so the corpus never
    * moves; above it the join is left to Spark's planner (shuffle join) —
    * an unconditional broadcast of a large query set would exceed the
    * broadcast limit / OOM the driver.
    */
  val MaxBroadcastProbes: Long = 100000L

  /** Probe table (qid, qvec, cid): the `nprobe` cells nearest each query,
    * ranked on |c|² − 2·q·c (the |q|² term is constant per query) with a
    * deterministic cid tie-break — one compiled `NearestCells` call +
    * `explode`, entirely map-side. The previous formulation paid a
    * broadcast join against the centroid frame AND a per-query
    * rank-window exchange (queries × nlist rows hashed by qid); probing
    * now never shuffles even for large query sets, which at 100 TB makes
    * the query-side cost of `search` a free pass. Conditionally
    * broadcast by callers (see `MaxBroadcastProbes`) so small probe sets
    * never move the corpus. Extracted so the quantized search path
    * (`Quantize.ivfTopK`) reuses the exact same cell-pruning stage as
    * the float path.
    */
  def probes(queries: DataFrame, idCol: String, vecCol: String,
      model: Model, nprobe: Int): DataFrame =
    queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("cid", explode(nearestCells(col("qvec"), model, nprobe)))
      .select("qid", "qvec", "cid")

  /** True when the probe side (queries × nprobe) fits under
    * `MaxBroadcastProbes` — counted on the id column only, so the cheap
    * pre-count never materializes query vectors on the driver. Callers
    * wrap their FINAL probe-side frame in `broadcast()` when this holds,
    * so the corpus never shuffles.
    *
    * Each partition counts at most `MaxBroadcastProbes + 1` rows: once
    * one partition reaches that cap the sum decides "large" exactly as
    * the full count would. Not `limit(n).count()`: Spark names the
    * counter of every codegen'd limit with a JVM-wide sequence number,
    * so that plan's classes never hit the codegen cache and every call
    * recompiled them; it also shuffled to one partition.
    */
  private[similarity] def probeSideSmall(queries: DataFrame, idCol: String,
      nprobe: Int): Boolean = {
    val cap = (MaxBroadcastProbes + 1).toInt
    queries.select(col(idCol)).rdd
      .mapPartitions(rows => Iterator(rows.take(cap).size.toLong))
      .fold(0L)(_ + _) * nprobe <= MaxBroadcastProbes
  }

  /** Shared scoring stage: probe-side join on cid, exact cosine, top-k.
    * Expects corpus (id, cid, vec) and probe side (qid, cid, qvec) — the
    * quantized paths (`Quantize.ivfTopK`/`searchIvfQuantized`) feed their
    * integral-valued arrays through the same kernel.
    *
    * Norms are precomputed ONCE per corpus row / probe row before the cid
    * join, so each scored pair costs one dot product instead of three —
    * the same per-pair-norm fix round 5 measured at ~3-5× on d09. The
    * division `dot / (qnrm * nrm)` is the exact expression `Ann.cosine`
    * builds (same operand order), so gate results are bit-identical.
    */
  private[similarity] def scoreProbedCells(corpus: DataFrame,
      probeSide: DataFrame, k: Int): DataFrame = {
    val c = corpus.withColumn("__nrm", Ann.l2norm(col("vec")))
    val p = probeSide.withColumn("__qnrm", Ann.l2norm(col("qvec")))
    val scored = c.join(p, Seq("cid"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        (Ann.dot(col("qvec"), col("vec")) / (col("__qnrm") * col("__nrm")))
          .as("cosine_sim"))
    Ann.rankTopK(scored, k)
  }

  /** Approximate top-k: probe the `nprobe` nearest cells per query, exact
    * cosine rank within the probed cells.
    */
  def search(assignedCorpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, model: Model, k: Int, nprobe: Int): DataFrame = {
    val prb = probes(queries, idCol, vecCol, model, nprobe)
    val probeSide =
      if (probeSideSmall(queries, idCol, nprobe)) broadcast(prb) else prb
    scoreProbedCells(assignedCorpus, probeSide, k)
  }

  /** Persist an assigned corpus PARTITIONED BY cell id — the 100 TB
    * storage layout the scaladoc above promises: one directory per cell,
    * so a probe-restricted read opens nprobe/nlist of the files via
    * Catalyst partition pruning (PruneFileSourcePartitions) and never
    * lists, opens, or deserializes the rest.
    */
  def writePartitioned(assignedCorpus: DataFrame, path: String): Unit =
    assignedCorpus.write.partitionBy("cid").mode("overwrite").parquet(path)

  /** Append an assigned batch into an existing `writePartitioned` store —
    * the incremental-ingestion half of the 100 TB layout: new rows assign
    * against the FROZEN centroid model (the index is shared; re-training
    * would move cell boundaries under existing files) and land as new
    * files inside their cells' directories. Readers are unchanged —
    * partition pruning sees one directory per cell regardless of how
    * many ingestion batches populated it. Compaction of many small batch
    * files is an offline file-level concern (rewrite a cell directory),
    * not a query-path one.
    */
  def appendPartitioned(assignedBatch: DataFrame, path: String): Unit =
    assignedBatch.write.partitionBy("cid").mode("append").parquet(path)

  /** Targeted delete from a partitioned store — the right-to-be-
    * forgotten operation a 100 TB vector corpus must support without a
    * full rewrite: only the cells CONTAINING victim rows are rewritten.
    * Victim cells are found by one broadcast semi-join (deletion lists
    * are request-sized, not corpus-sized), their surviving rows are
    * MATERIALIZED to a staging path first, and only then swapped into
    * the store cell by cell (delete victim dir, rename staged dir in) —
    * never an in-place overwrite of a path the rewrite plan is lazily
    * reading from, and never a dependence on dynamic-partition-
    * overwrite's version-sensitive self-read allowance. A cell whose
    * rows are ALL deleted simply has its directory removed. All
    * directory work goes through Spark's Hadoop `FileSystem`, so the
    * same code serves `hdfs://`/`s3a://` stores, not just local paths.
    *
    * A crash mid-swap leaves whole cells either old or new (staged
    * files are complete before any store file is touched), but a
    * concurrent probe can still observe a mixture across cells — for a
    * store that must serve probes DURING the delete, use
    * [[deleteToPath]] and swap paths atomically at the catalog level.
    *
    * @param victims one column of ids to delete (any name; first column
    *                is used), request-sized
    */
  def deletePartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, victims: DataFrame): Unit = {
    val ids = broadcast(
      victims.select(victims.columns.head).toDF("__victim_id").distinct())
    val store = spark.read.parquet(path)
    // the victim CELLS (model-bounded: at most one per victim id)
    val affected = store.join(ids,
        store("id") === ids("__victim_id"), "left_semi")
      .select("cid").distinct().collect().map(_.getInt(0)).toSeq
    if (affected.isEmpty) return
    val survivors = store.where(col("cid").isin(affected: _*))
      .join(ids, store("id") === ids("__victim_id"), "left_anti")
    val fs = hadoopFs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val stage = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "__delete_stage")
    fs.delete(stage, true)
    // survivors are fully on disk BEFORE any store file is touched
    survivors.write.partitionBy("cid").mode("overwrite")
      .parquet(stage.toString)
    affected.foreach { cid =>
      val cell = new org.apache.hadoop.fs.Path(root, s"cid=$cid")
      val staged = new org.apache.hadoop.fs.Path(stage, s"cid=$cid")
      fs.delete(cell, true)
      // an all-deleted cell has no staged dir: the delete alone is the op
      if (fs.exists(staged)) fs.rename(staged, cell)
    }
    fs.delete(stage, true)
  }

  /** Write-to-new-path twin of [[deletePartitioned]] — the live-serving-
    * safe delete: `src` is never mutated, so concurrent probes keep a
    * consistent store throughout, and the caller swaps src → dst as one
    * atomic catalog/path flip when `dst` is complete (the
    * [[compactPartitioned]] discipline). Victim cells' survivors are
    * rewritten into `dst` via Spark; UNTOUCHED cells move as raw
    * parquet files through the `FileSystem` layer — no decode/re-encode,
    * which is the entire point at 100 TB where deletion lists touch a
    * handful of the store's cells. (The file copy is driver-orchestrated
    * here; a production HDFS deployment would hand the untouched-cell
    * list to distcp — the per-cell layout makes that a directory-list
    * handoff.)
    */
  def deleteToPath(spark: org.apache.spark.sql.SparkSession,
      src: String, dst: String, victims: DataFrame): Unit = {
    val ids = broadcast(
      victims.select(victims.columns.head).toDF("__victim_id").distinct())
    val store = spark.read.parquet(src)
    val affected = store.join(ids,
        store("id") === ids("__victim_id"), "left_semi")
      .select("cid").distinct().collect().map(_.getInt(0)).toSet
    val fs = hadoopFs(spark, src)
    val srcRoot = new org.apache.hadoop.fs.Path(src)
    val dstRoot = new org.apache.hadoop.fs.Path(dst)
    fs.delete(dstRoot, true)
    fs.mkdirs(dstRoot)
    // untouched cells: file-level copy, no deserialization
    fs.listStatus(srcRoot).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("cid=") &&
        !affected.contains(name.stripPrefix("cid=").toInt)) {
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(dstRoot, name), false,
          spark.sessionState.newHadoopConf())
      }
    }
    if (affected.nonEmpty) {
      store.where(col("cid").isin(affected.toSeq: _*))
        .join(ids, store("id") === ids("__victim_id"), "left_anti")
        .write.partitionBy("cid").mode("append").parquet(dst)
    }
  }

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Offline compaction of a partitioned store: many small batch files
    * per cell (the residue of `appendPartitioned` / streaming ingestion)
    * rewritten as one file per cell directory into `dst` — rows, bytes,
    * and the partition layout are unchanged, only the file count drops
    * (at 100 TB the failure mode is listing/opening thousands of tiny
    * parquet footers per probed cell, not data volume). Writes to a NEW
    * path rather than in place: an in-place dynamic-partition overwrite
    * under concurrent probes would serve partial cells; swap src → dst
    * is the caller's atomic rename. One file per cell is right while
    * cells are sized by the √-rules (≪ executor memory); a cell past a
    * few hundred MB would pass a maxRecordsPerFile option instead.
    */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession,
      src: String, dst: String): Unit =
    spark.read.parquet(src)
      .repartition(col("cid"))
      .write.partitionBy("cid").mode("overwrite").parquet(dst)

  /** Search a `writePartitioned` corpus: the probed cell ids (≤ nlist
    * values — bounded and tiny by construction, this is NOT a data-sized
    * collect) come back to the driver and are pushed as a partition
    * filter, so only the probed cells' files are read. Everything after
    * the pruned scan is identical to `search`.
    *
    * @param filter optional attribute predicate over columns the store
    *               persisted next to the vectors — pushed beneath the
    *               pruned scan, post-filter semantics (the
    *               `Quantize.searchIvfQuantized` filter contract on the
    *               float arm)
    */
  def searchPartitioned(path: String, queries: DataFrame, idCol: String,
      vecCol: String, model: Model, k: Int, nprobe: Int,
      filter: Option[Column] = None): DataFrame = {
    val spark = queries.sparkSession
    // the probe lineage is evaluated twice (cid collect here + the probe
    // join in the returned plan). Deliberately NOT cache()d: the second
    // consumer executes after this method returns, so no code path here
    // could ever unpersist — the CacheManager entry would leak per call
    // (leftover caches are exactly what Bench clears between queries).
    // The recompute is bounded: queries × nlist dot products, map-side.
    val prb = probes(queries, idCol, vecCol, model, nprobe)
    val probedCids = prb.select("cid").distinct().collect()
      .map(_.getInt(0)).toSeq
    val pruned = spark.read.parquet(path)
      .where(col("cid").isin(probedCids: _*))
    val corpus = filter.fold(pruned)(pruned.where)
    val probeSide =
      if (probeSideSmall(queries, idCol, nprobe)) broadcast(prb) else prb
    scoreProbedCells(corpus, probeSide, k)
  }

  /** Convenience end-to-end: train + assign + search. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int, nprobe: Int,
      seed: Long = 42L): DataFrame = {
    val model = train(corpus, vecCol, nlist, seed)
    val assigned = assign(corpus, idCol, vecCol, model)
    search(assigned, queries, idCol, vecCol, model, k, nprobe)
  }
}
