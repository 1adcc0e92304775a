package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.Tables
import graft.etl.Sink
import graft.llm.Similarity

/** X-SIM-PQ-SERVE: the IVF-PQ index served through the engine's DSv2
  * catalog — plain SQL probes the PERSISTED index, the way a
  * SQL-only consumer uses an ANN store (VERDICT r12 task 6).
  *
  * Build once (marker-gated): [[Similarity.pqIndexFrame]] persists the
  * encoded corpus (vec_id, cell id, 8 codeword ids — ≈9 ints per
  * vector) as a cell-partitioned JSONL layout, [[Similarity.pqBooksFrame]]
  * the dim-sized codebook; `CREATE TABLE <cat>.ann.pq_index ...
  * PARTITIONED BY (cent_id) LOCATION ...` registers both with the
  * connector catalog ([[graft.sources.AnnIndexTable]]).
  *
  * Serve per query set, ALL in one `spark.sql`: coarse-probe the
  * [[Similarity.NumProbes]] nearest cells per query (dim-sized centroid
  * work), join the probes against the catalog index ON the cell id —
  * the scan's runtime filtering prunes to the probed cells'
  * directories, never the corpus — reconstruct candidates from the
  * broadcast codebook (8 codebook joins, one per subspace), ADC-score,
  * and keep the top-[[Similarity.PqRerank]] per query. The output is
  * the ranked ADC shortlist (qid, rank, cid): hash-equal to the
  * shortlist inside x_sim_ivfpq's oracle chain, proving the SQL face
  * and the DataFrame face serve the same index.
  *
  * Every float fold is written in index order (`aggregate`/`zip_with`
  * left folds ≡ DuckDB `list_sum(list_transform(...))`), the proven
  * x_sim_* exactness convention.
  */
object AnnServe {

  /** Stage the index + codebook and register the `ann` catalog tables;
    * returns the catalog name. Same marker discipline as q_dsv2_sql's
    * `ensureFbSqlTable`, and the same per-sfDir catalog registration
    * ([[graft.Session.fbInsightsCatalog]]).
    */
  private[graft] def ensureAnnTables(spark: SparkSession, sfDir: String): String = {
    val wh = Sink.scratchPath(sfDir, "ann_warehouse")
    val cat = graft.Session.fbInsightsCatalog(spark, "annidx", sfDir, wh)
    val marker = Paths.get(wh, "_GRAFT_DONE_ann_pq_v2")
    if (!Files.exists(marker)) {
      Files.createDirectories(Paths.get(wh))
      spark.sql(s"DROP TABLE IF EXISTS $cat.ann.pq_index")
      spark.sql(s"DROP TABLE IF EXISTS $cat.ann.pq_books")
      val idxDir = s"$wh/staging/pq_index"
      val booksDir = s"$wh/staging/pq_books"
      Sink.dropUncommitted(idxDir)
      Sink.dropUncommitted(booksDir)
      val emb = Tables.embeddings(spark, sfDir)
      Similarity.pqIndexFrame(emb)
        .write.mode("overwrite").partitionBy("cent_id").json(idxDir)
      Similarity.pqBooksFrame(emb).write.mode("overwrite").json(booksDir)
      spark.sql(
        s"""CREATE TABLE $cat.ann.pq_index
           |  (vec_id BIGINT, cent_id BIGINT, codes ARRAY<BIGINT>)
           |USING annindex PARTITIONED BY (cent_id)
           |LOCATION '$idxDir'""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $cat.ann.pq_books (bid BIGINT, bv ARRAY<DOUBLE>)
           |USING annindex LOCATION '$booksDir'""".stripMargin)
      Files.createFile(marker)
    }
    cat
  }

  /** The SQL-served ADC probe (see object doc). */
  def pqServe(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureAnnTables(spark, sfDir)
    spark.sql(pqProbeSql(cat, "pq_index", sfDir))
  }

  /** The ADC probe SQL against a named index table of the `ann`
    * namespace — shared by [[pqServe]] (the live staging),
    * [[compactServe]] (the compacted rewrite, which must serve the
    * IDENTICAL shortlist), [[deleteServe]] (survivor re-rank) and
    * [[filteredPqServe]] (`candPredicate` pushes an attribute filter
    * into the index scan).
    */
  private def pqProbeSql(
      cat: String, indexTable: String, sfDir: String,
      candPredicate: String = ""): String = {
    val sd = Similarity.PqSubDim
    val bookJoins = (0 until Similarity.PqSubspaces).map(m =>
      s"JOIN $cat.ann.pq_books b$m ON b$m.bid = cand.codes[$m]").mkString("\n")
    val slices = (0 until Similarity.PqSubspaces).map(m =>
      s"slice(b$m.bv, ${m * sd + 1}, $sd)").mkString(", ")
    s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |         sqrt(aggregate(embedding, CAST(0 AS DOUBLE),
         |           (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
         |  FROM parquet.`$sfDir/embeddings.parquet`),
         |c AS (SELECT * FROM e WHERE nrm > 0),
         |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM c
         |      WHERE vec_id % ${Similarity.QueryStride} = 0),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cv, nrm AS cn FROM c
         |          WHERE vec_id % 10 <> 7
         |          ORDER BY (vec_id * ${Similarity.CentroidHashMult})
         |                     % ${Similarity.CentroidHashMod}, vec_id
         |          LIMIT ${Similarity.IvfCentroids}),
         |qs AS (
         |  SELECT q.qid, cents.cent_id,
         |         aggregate(zip_with(q.qv, cents.cv,
         |             (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |           CAST(0 AS DOUBLE), (a, x) -> a + x) / (q.qn * cents.cn) AS cs
         |  FROM q CROSS JOIN cents),
         |probes AS (
         |  SELECT qid, cent_id FROM (
         |    SELECT qid, cent_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY cs DESC, cent_id) AS rn
         |    FROM qs) WHERE rn <= ${Similarity.NumProbes}),
         |cand AS (
         |  SELECT p.qid, i.vec_id, i.cent_id, i.codes
         |  FROM probes p JOIN $cat.ann.$indexTable i ON i.cent_id = p.cent_id
         |  WHERE i.vec_id <> p.qid$candPredicate),
         |rec AS (
         |  SELECT cand.qid, cand.vec_id,
         |         zip_with(ct.cv, concat($slices),
         |           (a, b) -> CAST(a AS DOUBLE) + b) AS av
         |  FROM cand
         |  JOIN cents ct ON ct.cent_id = cand.cent_id
         |  $bookJoins),
         |rn2 AS (
         |  SELECT qid, vec_id, av,
         |         sqrt(aggregate(av, CAST(0 AS DOUBLE), (a, x) -> a + x * x)) AS an
         |  FROM rec),
         |sa0 AS (
         |  SELECT r.qid, r.vec_id AS cid,
         |         aggregate(zip_with(q.qv, r.av,
         |             (x, y) -> CAST(x AS DOUBLE) * y),
         |           CAST(0 AS DOUBLE), (a, x) -> a + x) / (q.qn * r.an) AS sa
         |  FROM rn2 r JOIN q ON q.qid = r.qid)
         |SELECT qid, CAST(rn AS BIGINT) AS rank, cid FROM (
         |  SELECT qid, cid,
         |         row_number() OVER (PARTITION BY qid ORDER BY sa DESC, cid) AS rn
         |  FROM sa0) WHERE rn <= ${Similarity.PqRerank}
         |ORDER BY qid, rank""".stripMargin
  }

  // ---- attribute-filtered probe (X-SIM-FILTERED) -----------------------

  /** The metadata predicate of the filtered probe: `label = FilterLabel`
    * — ~1/10th of the corpus (labels are uniform 0–9).
    */
  val FilterLabel = 3L

  /** Stage + register the IVF-flat index table `ann.ivf_flat`
    * ([[Similarity.ivfFlatIndexFrame]]: vec_id, cent_id, label, vec) in
    * the shared ann warehouse — the attribute-carrying sibling of
    * pq_index, cell-partitioned the same way.
    */
  private[graft] def ensureIvfFlatTable(spark: SparkSession, sfDir: String): String = {
    val cat = ensureAnnTables(spark, sfDir)
    val wh = Sink.scratchPath(sfDir, "ann_warehouse")
    val marker = Paths.get(wh, "_GRAFT_DONE_ann_ivfflat_v2")
    if (!Files.exists(marker)) {
      spark.sql(s"DROP TABLE IF EXISTS $cat.ann.ivf_flat")
      val dir = s"$wh/staging/ivf_flat"
      Sink.dropUncommitted(dir)
      Similarity.ivfFlatIndexFrame(Tables.embeddings(spark, sfDir))
        .write.mode("overwrite").partitionBy("cent_id").json(dir)
      spark.sql(
        s"""CREATE TABLE $cat.ann.ivf_flat
           |  (vec_id BIGINT, cent_id BIGINT, label BIGINT, vec ARRAY<DOUBLE>)
           |USING annindex PARTITIONED BY (cent_id)
           |LOCATION '$dir'""".stripMargin)
      Files.createFile(marker)
    }
    cat
  }

  /** X-SIM-FILTERED: attribute-filtered ANN serving — "top-k WHERE
    * label = X", the most common production retrieval call — graded
    * against the FILTERED brute truth, both strategies side by side:
    *
    *  - `prefilter` (filter-then-rank): the label predicate is pushed
    *    INTO the index scan (the [[graft.sources.AnnIndexTable]] row
    *    filter — non-matching rows never materialize) alongside the
    *    runtime cell pruning, and the top-k ranks only filtered
    *    candidates.
    *  - `postfilter` (rank-then-filter): the unfiltered top-k is ranked
    *    first, THEN filtered — what a consumer without predicate
    *    pushdown does. Its kept rows are provably the top-m (m ≤ k) of
    *    the prefilter list, so its recall is a lower bound; the report
    *    exposes exactly how much recall the pushdown buys.
    *
    * `recall_hits` counts overlap with the label-restricted brute top-k
    * per (strategy, qid). Scale shape: probes prune to NumProbes cell
    * dirs per query (runtime filtering), the label predicate prunes
    * rows inside them at parse time, and only (qid, cid, cosine)
    * shortlists ever shuffle.
    */
  def simFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureIvfFlatTable(spark, sfDir)
    val k = Similarity.K
    spark.sql(
      s"""WITH e AS (
         |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label,
         |         sqrt(aggregate(embedding, CAST(0 AS DOUBLE),
         |           (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
         |  FROM parquet.`$sfDir/embeddings.parquet`),
         |c AS (SELECT * FROM e WHERE nrm > 0),
         |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM c
         |      WHERE vec_id % ${Similarity.QueryStride} = 0),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cv, nrm AS cn FROM c
         |          WHERE vec_id % 10 <> 7
         |          ORDER BY (vec_id * ${Similarity.CentroidHashMult})
         |                     % ${Similarity.CentroidHashMod}, vec_id
         |          LIMIT ${Similarity.IvfCentroids}),
         |qs AS (
         |  SELECT q.qid, cents.cent_id,
         |         aggregate(zip_with(q.qv, cents.cv,
         |             (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |           CAST(0 AS DOUBLE), (a, x) -> a + x) / (q.qn * cents.cn) AS cs
         |  FROM q CROSS JOIN cents),
         |probes AS (
         |  SELECT qid, cent_id FROM (
         |    SELECT qid, cent_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY cs DESC, cent_id) AS rn
         |    FROM qs) WHERE rn <= ${Similarity.NumProbes}),
         |-- prefilter: the label predicate reaches the index SCAN
         |candf AS (
         |  SELECT p.qid, i.vec_id, i.vec
         |  FROM probes p JOIN $cat.ann.ivf_flat i ON i.cent_id = p.cent_id
         |  WHERE i.label = $FilterLabel AND i.vec_id <> p.qid),
         |sf0 AS (
         |  SELECT cd.qid, cd.vec_id AS cid,
         |         aggregate(zip_with(q.qv, cd.vec,
         |             (x, y) -> CAST(x AS DOUBLE) * y),
         |           CAST(0 AS DOUBLE), (a, x) -> a + x)
         |           / (q.qn * sqrt(aggregate(cd.vec, CAST(0 AS DOUBLE),
         |               (a, x) -> a + x * x))) AS cosine
         |  FROM candf cd JOIN q ON q.qid = cd.qid),
         |pre AS (
         |  SELECT qid, cid, cosine,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cosine DESC, cid) AS rank
         |  FROM sf0),
         |-- postfilter: rank the UNFILTERED candidates first, then filter
         |candu AS (
         |  SELECT p.qid, i.vec_id, i.label, i.vec
         |  FROM probes p JOIN $cat.ann.ivf_flat i ON i.cent_id = p.cent_id
         |  WHERE i.vec_id <> p.qid),
         |su AS (
         |  SELECT cd.qid, cd.vec_id AS cid, cd.label,
         |         aggregate(zip_with(q.qv, cd.vec,
         |             (x, y) -> CAST(x AS DOUBLE) * y),
         |           CAST(0 AS DOUBLE), (a, x) -> a + x)
         |           / (q.qn * sqrt(aggregate(cd.vec, CAST(0 AS DOUBLE),
         |               (a, x) -> a + x * x))) AS cosine
         |  FROM candu cd JOIN q ON q.qid = cd.qid),
         |post0 AS (
         |  SELECT qid, cid, label, cosine,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cosine DESC, cid) AS rn
         |  FROM su),
         |post AS (
         |  SELECT qid, cid, cosine,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cosine DESC, cid) AS rank
         |  FROM post0 WHERE rn <= $k AND label = $FilterLabel),
         |-- label-restricted brute truth, from the source parquet
         |bt AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.vec_id AS cid,
         |           row_number() OVER (PARTITION BY q.qid ORDER BY
         |             aggregate(zip_with(q.qv, c.embedding,
         |                 (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |               CAST(0 AS DOUBLE), (a, x) -> a + x)
         |               / (q.qn * c.nrm) DESC, c.vec_id) AS rank
         |    FROM c JOIN q ON c.vec_id <> q.qid
         |    WHERE c.label = $FilterLabel) WHERE rank <= $k),
         |ann AS (
         |  SELECT 'prefilter' AS strategy, qid, rank, cid, cosine
         |  FROM pre WHERE rank <= $k
         |  UNION ALL
         |  SELECT 'postfilter' AS strategy, qid, rank, cid, cosine FROM post),
         |h AS (
         |  SELECT a.strategy, a.qid, count(*) AS hits
         |  FROM ann a JOIN bt ON a.qid = bt.qid AND a.cid = bt.cid
         |  GROUP BY a.strategy, a.qid)
         |SELECT a.strategy, a.qid, CAST(a.rank AS BIGINT) AS rank, a.cid,
         |       round(a.cosine, 6) AS cosine,
         |       CAST(coalesce(h.hits, 0) AS BIGINT) AS recall_hits
         |FROM ann a LEFT JOIN h ON a.strategy = h.strategy AND a.qid = h.qid
         |ORDER BY strategy, qid, rank""".stripMargin)
  }

  // ---- index compaction + retention (X-ANN-COMPACT) --------------------

  /** File fragmentation the compaction rehearses: the staging is written
    * in this many shuffle slices, leaving up to this many part files per
    * cell directory — what a run of small incremental appends
    * (x_sim_incr's delta discipline) accumulates.
    */
  val FragmentSlices = 6

  /** Count the `part-*` data files under a cell-partitioned JSONL
    * staging (metadata files excluded).
    */
  private[graft] def dataFileCount(dir: String): Int = {
    val root = new java.io.File(dir)
    def files(d: java.io.File): Int =
      Option(d.listFiles()).getOrElse(Array.empty).map { f =>
        if (f.isDirectory) files(f)
        else if (f.isFile && f.getName.startsWith("part-")) 1
        else 0
      }.sum
    files(root)
  }

  /** Compact a cell-partitioned JSONL index staging in place: read every
    * part file, rewrite ONE file per cell (`repartition(cent_id)` hashes
    * each cell's rows into a single task; `partitionBy` then emits one
    * file per cell per task), swap the rewrite in, and RETAIN NOTHING of
    * the superseded fragments (the q_compact rewrite + x_vacuum
    * retention, applied to the index artifact). Returns
    * (files_before, files_after).
    */
  private[graft] def compactCells(spark: SparkSession, dir: String): (Int, Int) = {
    val before = dataFileCount(dir)
    val tmp = dir + "__compacting"
    Sink.dropUncommitted(tmp)
    spark.read.json(dir)
      .repartition(org.apache.spark.sql.functions.col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").json(tmp)
    // swap via rename-aside: the live dir is MOVED (one rename) before the
    // rewrite is promoted (one rename), so no crash window deletes data
    // that has no replacement on disk — a crash between the renames leaves
    // the full old index at `__old`, recoverable by hand and re-staged
    // from scratch by the marker gate on retry; superseded files vacuum
    // only after the promotion lands
    val old = dir + "__old"
    Sink.dropUncommitted(old)
    Files.move(Paths.get(dir), Paths.get(old))
    Files.move(Paths.get(tmp), Paths.get(dir))
    Sink.dropUncommitted(old)
    (before, dataFileCount(dir))
  }

  /** Stage a FRAGMENTED copy of the pq index, compact it, and register
    * it as `ann.pq_index_compact`. Marker-gated like the live staging.
    */
  private[graft] def ensureCompactTable(spark: SparkSession, sfDir: String): String = {
    val cat = ensureAnnTables(spark, sfDir)
    val wh = Sink.scratchPath(sfDir, "ann_warehouse")
    val marker = Paths.get(wh, "_GRAFT_DONE_ann_compact_v2")
    if (!Files.exists(marker)) {
      spark.sql(s"DROP TABLE IF EXISTS $cat.ann.pq_index_compact")
      val dir = s"$wh/staging/pq_index_compact"
      Sink.dropUncommitted(dir)
      Similarity.pqIndexFrame(Tables.embeddings(spark, sfDir))
        .repartition(FragmentSlices)
        .write.mode("overwrite").partitionBy("cent_id").json(dir)
      compactCells(spark, dir)
      spark.sql(
        s"""CREATE TABLE $cat.ann.pq_index_compact
           |  (vec_id BIGINT, cent_id BIGINT, codes ARRAY<BIGINT>)
           |USING annindex PARTITIONED BY (cent_id)
           |LOCATION '$dir'""".stripMargin)
      Files.createFile(marker)
    }
    cat
  }

  /** X-ANN-COMPACT: the ADC probe served from the COMPACTED index — must
    * be hash-identical to [[pqServe]]'s answer from the fragmented
    * staging (the oracle is the same SQL), with fewer files (the spec
    * pins one data file per cell after compaction).
    */
  def compactServe(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureCompactTable(spark, sfDir)
    spark.sql(pqProbeSql(cat, "pq_index_compact", sfDir))
  }

  /** Stage + register the LABELED pq index `ann.pq_index_labeled`
    * ([[Similarity.pqIndexLabeledFrame]]) — the quantized sibling of
    * `ann.ivf_flat`, for the filtered+quantized probe.
    */
  private[graft] def ensurePqLabeledTable(spark: SparkSession, sfDir: String): String = {
    val cat = ensureAnnTables(spark, sfDir)
    val wh = Sink.scratchPath(sfDir, "ann_warehouse")
    val marker = Paths.get(wh, "_GRAFT_DONE_ann_pq_labeled_v2")
    if (!Files.exists(marker)) {
      spark.sql(s"DROP TABLE IF EXISTS $cat.ann.pq_index_labeled")
      val dir = s"$wh/staging/pq_index_labeled"
      Sink.dropUncommitted(dir)
      Similarity.pqIndexLabeledFrame(Tables.embeddings(spark, sfDir))
        .write.mode("overwrite").partitionBy("cent_id").json(dir)
      spark.sql(
        s"""CREATE TABLE $cat.ann.pq_index_labeled
           |  (vec_id BIGINT, cent_id BIGINT, label BIGINT, codes ARRAY<BIGINT>)
           |USING annindex PARTITIONED BY (cent_id)
           |LOCATION '$dir'""".stripMargin)
      Files.createFile(marker)
    }
    cat
  }

  /** X-SIM-FILTERED-PQ: the attribute filter composed with the QUANTIZED
    * path — "top-k WHERE label = X" over the IVF-PQ catalog index, the
    * call a production retrieval tier actually serves (X-SIM-FILTERED
    * proves the filter semantics on exact vectors; this composes the
    * same pushed row filter with ADC scoring, so non-matching postings
    * never reconstruct, never score). Output is the filtered ADC
    * shortlist; the oracle re-derives the full PQ chain with the label
    * class excluded from candidates.
    */
  def filteredPqServe(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensurePqLabeledTable(spark, sfDir)
    spark.sql(pqProbeSql(cat, "pq_index_labeled", sfDir,
      candPredicate = s" AND i.label = $FilterLabel"))
  }

  // ---- opt-out deletion in the index (X-ANN-DELETE) --------------------

  /** The deletion membership of X-ANN-DELETE: vec_id ≡ 13 (mod 50) —
    * disjoint from centroids (≡ 0 mod 100) and queries (≡ 0 mod 200),
    * so the frozen model and the serving query set survive the purge.
    */
  val DeleteMod = 50L
  val DeleteRem = 13L

  /** Copy-on-write deletion over a cell-partitioned JSONL index staging:
    * victims' postings are purged by rewriting ONLY the cell directories
    * that contain a victim (ONE multi-path Spark job over the affected
    * dirs — the [[graft.etl.Cdc.rewriteAffected]] discipline applied to
    * the index artifact); untouched cell dirs are left byte-identical in
    * place (metadata work, zero IO). A cell whose every row is a victim
    * disappears (no dir = empty posting list). Returns
    * (n_cells_total, n_cells_rewritten).
    */
  private[graft] def deleteFromIndex(spark: SparkSession, dir: String): (Int, Int) =
    purgeFromIndex(spark, dir,
      v => pmod(v, lit(DeleteMod)) === lit(DeleteRem))

  /** The CoW purge core shared by [[deleteFromIndex]] (mod-rule victims)
    * and [[applyTombstones]] (streamed tombstone ids): `victim` is the
    * membership predicate over the posting's vec_id.
    */
  private[graft] def purgeFromIndex(
      spark: SparkSession, dir: String,
      victim: org.apache.spark.sql.Column => org.apache.spark.sql.Column): (Int, Int) = {
    val all = spark.read.json(dir)
    // affected-cell listing is centroid-sized — a loud, bounded collect
    val affected = all
      .filter(victim(col("vec_id")))
      .select(col("cent_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val totalCells = new java.io.File(dir).listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("cent_id="))
    if (affected.nonEmpty) {
      val tmp = dir + "__deleting"
      Sink.dropUncommitted(tmp)
      val dirs = affected.toSeq.sorted.map(c => s"$dir/cent_id=$c")
      spark.read.option("basePath", dir).json(dirs: _*)
        .filter(!victim(col("vec_id")))
        .repartition(col("cent_id"))
        .write.mode("overwrite").partitionBy("cent_id").json(tmp)
      affected.foreach { c =>
        val live = Paths.get(dir, s"cent_id=$c")
        val fresh = Paths.get(tmp, s"cent_id=$c")
        // per-cell rename-aside (same discipline as compactCells): the
        // live cell moves out in one rename before its replacement moves
        // in, so a crash never leaves a cell deleted with no replacement
        // anywhere on disk — `__old` still holds it
        val old = Paths.get(dir + "__old", s"cent_id=$c")
        Files.createDirectories(old.getParent)
        Sink.dropUncommitted(old.toString)
        if (Files.exists(live)) Files.move(live, old)
        // a cell whose every row was a victim has no fresh dir: absent
        // dir = empty posting list, which is the correct purged state
        if (Files.exists(fresh)) Files.move(fresh, live)
      }
      Sink.dropUncommitted(tmp)
      Sink.dropUncommitted(dir + "__old")
    }
    (totalCells, affected.size)
  }

  /** Stage a copy of the pq index, purge the deletion set from it, and
    * register it as `ann.pq_index_deleted`. Marker-gated.
    */
  private[graft] def ensureDeletedTable(spark: SparkSession, sfDir: String): String = {
    val cat = ensureAnnTables(spark, sfDir)
    val wh = Sink.scratchPath(sfDir, "ann_warehouse")
    val marker = Paths.get(wh, "_GRAFT_DONE_ann_delete_v2")
    if (!Files.exists(marker)) {
      spark.sql(s"DROP TABLE IF EXISTS $cat.ann.pq_index_deleted")
      val dir = s"$wh/staging/pq_index_deleted"
      Sink.dropUncommitted(dir)
      Similarity.pqIndexFrame(Tables.embeddings(spark, sfDir))
        .write.mode("overwrite").partitionBy("cent_id").json(dir)
      deleteFromIndex(spark, dir)
      spark.sql(
        s"""CREATE TABLE $cat.ann.pq_index_deleted
           |  (vec_id BIGINT, cent_id BIGINT, codes ARRAY<BIGINT>)
           |USING annindex PARTITIONED BY (cent_id)
           |LOCATION '$dir'""".stripMargin)
      Files.createFile(marker)
    }
    cat
  }

  /** X-ANN-DELETE: opt-out deletion propagated into the ANN index — the
    * X-OPTOUT / Q-DELETE obligation applied to the serving artifact (a
    * compliance purge that forgets the warehouse rows but keeps serving
    * the user's vectors has not forgotten anything). The probe over the
    * purged index re-ranks among the survivors: the oracle re-derives
    * the full IVF-PQ chain with the deletion set excluded from the
    * candidates, so the served shortlist must match it hash-for-hash —
    * and the spec pins the rewrite to ONLY the affected cell dirs, with
    * untouched dirs byte-identical.
    */
  def deleteServe(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ensureDeletedTable(spark, sfDir)
    spark.sql(pqProbeSql(cat, "pq_index_deleted", sfDir))
  }

  // ---- streamed tombstone deletion (X-STREAM-ANN-DELETE) ---------------

  /** The shared ADC probe over the LIVE (unmodified) index with a
    * tombstone log anti-joined into the candidate set: a posting whose
    * vec_id appears in the log never reconstructs, never scores, never
    * serves — deletion takes effect at REQUEST time, while the index
    * files stay untouched until compaction folds the log in
    * ([[applyTombstones]]). The `NOT EXISTS` plans as a broadcast
    * left-anti join (the log is deletion-sized, never corpus-sized), so
    * the serve cost over the tombstoned index equals the plain probe's.
    */
  private[graft] def tombstoneServe(
      spark: SparkSession, sfDir: String, tombDir: String): DataFrame = {
    val cat = ensureAnnTables(spark, sfDir)
    spark.sql(pqProbeSql(cat, "pq_index", sfDir,
      candPredicate = " AND NOT EXISTS (SELECT 1 FROM " +
        s"parquet.`$tombDir` tb WHERE tb.vec_id = i.vec_id)"))
  }

  /** Fold the tombstone log into an index staging at compaction time:
    * CoW-rewrite ONLY the cells holding a tombstoned posting (the
    * [[purgeFromIndex]] discipline) and DROP the log — after this the
    * probe needs no anti-join and zero tombstones remain. The id set is
    * a loud bounded driver collect: a compaction's deletion batch is
    * compliance-request-sized, never corpus-sized (at larger batches the
    * isin predicate swaps for a broadcast anti-join, same plan shape the
    * serve path uses). Returns (n_cells_total, n_cells_rewritten).
    */
  private[graft] def applyTombstones(
      spark: SparkSession, dir: String, tombDir: String): (Int, Int) = {
    val ids = spark.read.parquet(tombDir)
      .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
    val res =
      if (ids.isEmpty)
        (new java.io.File(dir).listFiles()
          .count(d => d.isDirectory && d.getName.startsWith("cent_id=")), 0)
      else purgeFromIndex(spark, dir, v => v.isInCollection(ids))
    graft.streaming.Drain.deleteRecursively(Paths.get(tombDir))
    res
  }
}
