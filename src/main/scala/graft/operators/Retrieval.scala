package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval operators for training-data curation: BM25 top-k
  * (Robertson/Spärck Jones — the standard keyword ranker, here in the
  * Lucene `ln(1 + (N-df+0.5)/(df+0.5))` non-negative idf form) and
  * reciprocal-rank fusion (Cormack/Clarke/Büttcher SIGIR'09) for
  * combining lexical and embedding rankers into one hybrid retriever —
  * the query-side counterpart of the corpus curation family: dedup
  * decides what to KEEP, retrieval decides what to SURFACE (targeted
  * decontamination probes, eval-set mining, topic audits).
  *
  * Determinism: every score is computed in FIXED POINT. The only
  * transcendental (`ln`) is floored to a 1e-6-scaled long immediately,
  * per-term contributions are floored to longs BEFORE the per-document
  * sum, and ranks order by the long — so aggregation order can never
  * move a score by an ulp and the DuckDB twin hash-matches exactly.
  * All double arithmetic before each floor is written with the same
  * association on both engines (IEEE 754 ops are deterministic given
  * identical expression trees).
  *
  * 100 TB posture (BM25): the corpus-sized work is one tokenize +
  * (doc,term) tf aggregation — the inverted-index build, partial-
  * aggregated map-side and MATERIALIZED ONCE (localCheckpoint, the
  * q132 survivor-frame pattern): document lengths, df counts, and the
  * posting join all read the materialized index instead of
  * re-tokenizing the corpus (the naive declarative form re-scanned the
  * corpus three times — measured in the executed plan; at deployment
  * scale this frame is the STORED inverted index a retrieval system
  * keeps on disk). Everything after runs on POSTING LISTS: the (tiny,
  * broadcast) query-term set semi-joins the index first, so df
  * counting and scoring only ever touch rows whose term occurs in some
  * query — term-at-a-time evaluation, never a per-query corpus scan.
  * Corpus-level scalars (N, total token count) ride in on a broadcast
  * 1-row frame. The per-(query,doc) score sum shuffles
  * posting-list-sized data keyed by (query_id, doc_id), and the final
  * top-k is a per-query window over docs that matched at least one
  * term.
  */
object Retrieval {

  /** BM25 k1 = 1.2 and b = 0.75 (the standard defaults), embedded as
    * the exact rationals 6/5 and 3/4: the score term
    * `idf·tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)` with
    * avgdl = total/N multiplies out to the all-integer-input form
    * `idf · (22·tf·total) / (10·tf·total + 3·total + 9·dl·N)` — no
    * engine-dependent decimal literals survive into the arithmetic.
    */
  val ScoreScale = 1000000.0

  /** BM25 top-k: for every query document, the k highest-scoring corpus
    * documents (self excluded), deterministic tie-break on doc id.
    * Query terms are the DISTINCT normalized tokens of the query text
    * (Lucene semantics — repeated query terms do not re-add). Documents
    * normalizing to zero tokens drop out of N and can never match.
    *
    * Output: (query_id, rnk, doc_id, score) with score = score_fp/1e6
    * rounded to 6 decimals; rows ordered (query_id, rnk).
    */
  def bm25TopK(
      docs: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    // the inverted index, materialized once — every downstream stat
    // (dl, df, postings) reads these rows, not a corpus re-scan
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
    val qt = queryTerms(queries, idCol, textCol).distinct()
    // posting lists: only rows whose term some query mentions survive
    val matched = tf.join(broadcast(qt.select(col("term")).distinct()), "term")
    // df per query term over the full corpus (the term filter commutes
    // with the per-term count, so the filtered frame gives exact df)
    val dfq = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = matched
      .join(broadcast(qt), "term")
      .join(broadcast(dfq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
    scoreAndRank(contrib, k)
  }

  /** Shared BM25 scoring tail: expects (query_id, doc_id, tf, df, dl,
    * n_docs, total) rows — one per (query term × posting) — and emits
    * the ranked (query_id, rnk, doc_id, score) top-k. The exact
    * fixed-point arithmetic both [[bm25TopK]] and [[bm25TopKIndexed]]
    * must share for their oracle hash-equality.
    */
  private def scoreAndRank(contrib: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    contrib
      .withColumn("idf_fp", floor(
        log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) * lit(ScoreScale)).cast("long"))
      .withColumn("cfp", floor(col("idf_fp") *
        ((lit(22.0) * col("tf") * col("total")) /
          (lit(10.0) * col("tf") * col("total") + lit(3.0) * col("total") +
            lit(9.0) * col("dl") * col("n_docs")))).cast("long"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("cfp")).as("score_fp"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        round(col("score_fp") / lit(ScoreScale), 6).as("score"))
  }

  /** The normalized query terms of a query frame, one row per token. */
  private def queryTerms(
      queries: DataFrame, idCol: String, textCol: String): DataFrame =
    queries
      .select(col(idCol).as("query_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")

  /** Materializes a BM25 inverted index as the WRITTEN, shard-pruned
    * serving layout — the lexical twin of the IVF-PQ index lifecycle
    * (q139/q141), with a DAY-2 story ([[bm25AppendIndex]], then
    * `IndexLayout.Bm25`'s audit / compact). Three pieces, all
    * keyed by the same 256-way md5(term) shard (the q131 shard idiom):
    *
    *  - `postings/` (doc_id, term, tf, dl), PARTITIONED BY shard: tf
    *    and the document's length ride inline — both are PER-DOCUMENT
    *    facts that never change when other documents arrive, so they
    *    are append-stable denormalizations;
    *  - `terms/` (term, df), PARTITIONED BY shard: one df-contribution
    *    row per (build-or-append generation, term). df is a
    *    CORPUS-level fact — every append moves it for existing terms —
    *    so unlike tf/dl it must NOT be frozen into posting rows (the
    *    v1 layout did exactly that, and any append silently staled
    *    every stored posting's idf). Serve-time df = SUM(df) per term,
    *    over the SAME pruned shards the postings read — exact across
    *    any number of appends because generations partition the
    *    corpus;
    *  - `meta/stats/` (n_docs, total): one row per generation,
    *    serve-time SUM — the same generation-delta trick.
    *
    * A query batch reads ~|query-term shards|/256 of postings AND
    * terms via STATIC partition pruning and joins NOTHING
    * corpus-sized: the df lookup is vocabulary-shard-sized before the
    * broadcast query-term probe cuts it to query terms.
    *
    * Build cost: the one tokenize + tf aggregation (materialized once,
    * the [[bm25TopK]] pattern) plus two vocabulary/doc-keyed
    * aggregates and one write. Day-1 cost, paid once — the 100 TB
    * posture is that [[bm25TopK]] is the ad-hoc path and this is what
    * a standing retrieval service serves from.
    */
  def bm25WriteIndex(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      shards: Option[Int] = None): Unit = {
    val (postings, terms, stats) = generationRows(docs, idCol, textCol)
    IndexLayout.Bm25.write(docs, path, shards, postings,
      IndexLayout.Bm25Terms -> terms, IndexLayout.Bm25Stats -> stats)
  }

  /** Appends a NEW-DOCUMENT generation to a [[bm25WriteIndex]] layout
    * — the lexical `ivfPqAppendToIndex`: one delta-sized tokenize, a
    * delta postings/terms/stats write, ZERO base reads. Serving after
    * the append is EXACT (not stale-df approximate): df and the
    * corpus scalars are per-generation contributions summed at serve
    * time, and tf/dl are per-document facts computed wholly within
    * the delta — q155 gates append-then-serve against the same oracle
    * as the fresh build.
    *
    * CONTRACT (same as the vector side, enforced by audit not by a
    * base scan): delta doc ids must be NEW — an id already indexed
    * would double its postings — and the append is
    * caller-owns-exactly-once: a blind retry replays every delta row
    * and every df/stats contribution. Both damages are what
    * `IndexLayout.Bm25`'s audit detects and its compact repairs.
    */
  def bm25AppendIndex(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val (postings, terms, stats) = generationRows(docs, idCol, textCol)
    IndexLayout.Bm25.append(path, postings,
      IndexLayout.Bm25Terms -> terms, IndexLayout.Bm25Stats -> stats)
  }

  /** One generation's (postings, terms, stats) rows. All three derive
    * from the one materialized tf frame and land in three DISJOINT
    * directories, so the lifecycle overlaps their write jobs (guide
    * §2.6): each is floor-bound (a partitioned write is commit
    * machinery at any data size), so a build/append pays ~one floor
    * instead of three. postings/ and terms/ share one shard count.
    */
  private def generationRows(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    (tf.join(dl, "doc_id"), dfRows(tf), statsRows(dl))
  }

  /** df contributions: one row per term of the (tf or posting) rows. */
  private def dfRows(postings: DataFrame): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** The corpus scalars of per-document lengths, one row. */
  private def statsRows(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
      .coalesce(1)

  /** Serves BM25 top-k from a [[bm25WriteIndex]] layout: one
    * [[IndexLayout.probeAll]] by the query terms reads BOTH the
    * `terms/` and `postings/` layouts (the q134/q139 PartitionFilters
    * shape), per-term df and the corpus scalars sum across
    * generations, and scoring is the exact [[bm25TopK]] fixed-point
    * arithmetic — served results must hash-equal the ad-hoc path,
    * which q154 (fresh build) and q155 (build + append) gate against
    * q146's own oracle.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
      path0: String, queries: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val path = IndexPaths.resolve(spark, path0)
    val (tokens, Seq(terms, postings)) = IndexLayout.probeAll(spark, path,
      queryTerms(queries, idCol, textCol), Seq("term"),
      IndexLayout.Bm25Terms, IndexLayout.Bm25)
    val qt = tokens.distinct()
    val stats = spark.read.parquet(IndexLayout.Bm25Stats.at(path))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total")).as("total"))
    val dfq = terms.groupBy(col("term")).agg(sum(col("df")).as("df"))
    val contrib = postings
      .join(broadcast(qt), "term")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
    scoreAndRank(contrib, k)
  }

  /** Per-shard operational stats of a written BM25 index — the
    * lexical `ivfPqIndexStats`: posting count, distinct-term count,
    * token mass (Σtf) from `postings/`, and the df mass from
    * `terms/`. The last column is the built-in drift detector: summed
    * df per shard MUST equal the shard's posting count (each posting
    * is one (term, doc) membership some generation's df counted), so
    * a df double-count from a replayed append, a lost terms row, or a
    * generation mismatch shows as `df_total ≠ n_postings` — and
    * hash-fails q162, whose oracle emits the true value for both.
    * Two narrow grouped scans + a 256-row join; never reads text.
    */
  def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
      path0: String): DataFrame = {
    val path = IndexPaths.resolve(spark, path0)
    val p = spark.read.parquet(s"$path/postings")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_postings"),
        count_distinct(col("term")).as("n_terms"),
        sum(col("tf")).as("sum_tf"))
    val t = spark.read.parquet(s"$path/terms")
      .groupBy(col("shard")).agg(sum(col("df")).as("df_total"))
    p.join(t, "shard")
      .select(col("shard"), col("n_postings"), col("n_terms"),
        col("sum_tf"), col("df_total"))
  }

  /** BM25's extra compact steps over the deduped posting rows
    * (`IndexLayout.Bm25`'s `compactAlso`). The generic key check
    * refuses (doc_id, term) collisions; it misses a doc id re-appended
    * with DIFFERENT text sharing NO term with the original — no key
    * collides, but the deduped postings then carry two distinct dl
    * values, and even a same-length disjoint rewrite fails the
    * per-document invariant Σtf = dl (a clean index satisfies it by
    * construction; any extra surviving posting breaks it), so the
    * per-doc check here catches every divergent re-append. `terms/`
    * and `meta/stats` are REDERIVED from the deduped postings (df =
    * posting count per term, n_docs/total = distinct docs and their
    * summed lengths) — aggregates over rows already in hand, NO corpus
    * re-tokenize — which repairs the doubled df/stats contributions
    * in the same pass; the terms rewrite derives shards as `src` did.
    */
  private[operators] def bm25Rederive(spark: SparkSession,
      postings: DataFrame, src: String, dst: String): Seq[() => Unit] = {
    import IndexLayout.{Bm25, Bm25Stats, Bm25Terms}
    val nSh = IndexShards.forAppend(spark, Bm25.at(src))
    Seq(
      () => {
        val inconsistent = postings.groupBy(col("doc_id"))
          .agg(count_distinct(col("dl")).as("n_dl"),
            sum(col("tf")).as("sum_tf"), first(col("dl")).as("dl"))
          .filter(col("n_dl") > 1 || col("sum_tf") =!= col("dl"))
          .limit(1).collect()
        require(inconsistent.isEmpty, {
          val d = inconsistent.head
          s"bm25 compact: doc ${d.get(0)} has inconsistent postings " +
            "(multiple distinct dl values, or summed tf not equal to dl) " +
            "— a doc id was re-appended with different text, or posting " +
            "rows were lost/corrupted by partial-write damage; not " +
            "append-replay damage; rebuild the index instead"
        })
      },
      () => {
        Bm25Terms.writeRows(dfRows(postings), Bm25Terms.at(dst),
          "overwrite", Some(nSh))
        IndexShards.mirror(spark, Bm25Terms.at(src), Bm25Terms.at(dst))
      },
      () => Bm25Stats.writeRows(
        statsRows(postings.groupBy(col("doc_id"))
          .agg(first(col("dl")).as("dl"))),
        Bm25Stats.at(dst), "overwrite", None))
  }

  /** DuckDB twin of [[bm25TopK]] as a WITH-clause body (no trailing
    * SELECT): defines CTEs `bm25` = (query_id, rnk, doc_id, score_fp)
    * for all ranks <= k, so callers append their own tail (q146 formats
    * scores; q147 fuses ranks). Same normalization, same fixed-point
    * arithmetic, same association order as the Spark side.
    */
  def bm25CtesSql(
      table: String, idCol: String, textCol: String,
      queryPred: String, k: Int): String = {
    val toks = TextOps.tokensSql(textCol)
    s"""
      toks0 AS (SELECT $idCol AS doc_id, unnest($toks) AS term
                FROM $table),
      toks AS (SELECT doc_id, term FROM toks0 WHERE term <> ''),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total FROM dl),
      qt AS (SELECT DISTINCT doc_id AS query_id, term FROM toks
             WHERE $queryPred),
      matched AS (SELECT tf.* FROM tf
                  WHERE term IN (SELECT term FROM qt)),
      dfq AS (SELECT term, COUNT(*) AS df FROM matched GROUP BY 1),
      contrib AS (
        SELECT q.query_id, m.doc_id,
               CAST(FLOOR(
                 FLOOR(ln((CAST(s.n_docs AS DOUBLE) - d.df + 0.5) /
                          (d.df + 0.5) + 1.0) * $ScoreScale) *
                 ((22.0 * m.tf * s.total) /
                  (10.0 * m.tf * s.total + 3.0 * s.total +
                   9.0 * l.dl * s.n_docs))) AS BIGINT) AS cfp
        FROM matched m
        JOIN qt q ON m.term = q.term
        JOIN dfq d ON m.term = d.term
        JOIN dl l ON m.doc_id = l.doc_id
        CROSS JOIN stats s),
      scored AS (SELECT query_id, doc_id, SUM(cfp) AS score_fp
                 FROM contrib WHERE doc_id <> query_id GROUP BY 1, 2),
      bm25 AS (SELECT query_id, doc_id, score_fp,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY score_fp DESC, doc_id) AS rnk
               FROM scored QUALIFY rnk <= $k)"""
  }

  /** Reciprocal-rank fusion of ranked lists: each input is
    * (query_id, neighbor_id, rnk-like column named by `rankCols`), and
    * a document's fused score is Σ_rankers 1/(kRrf + rank) — computed
    * in fixed point as Σ floor(1e6/(kRrf + rank)) so the sum is an
    * exact long. Documents missing from a ranker's list contribute 0
    * for that ranker (standard RRF). Output: (query_id, rnk,
    * neighbor_id, rrf_fp) top-k per query, tie-break on neighbor id.
    *
    * 100 TB posture: inputs are already top-N shortlists (per-query
    * bounded), so fusion runs on (queries × N × rankers) rows — a
    * broadcast-class frame whatever the corpus size; one keyed sum and
    * a per-query window.
    */
  def rrfFuse(
      rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val tagged = rankings
      .map(_.select(col("query_id"), col("neighbor_id"), col("rnk")))
      .reduce(_ unionAll _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_fp").desc, col("neighbor_id"))
    tagged
      .withColumn("c_fp",
        floor(lit(ScoreScale) / (lit(kRrf.toDouble) + col("rnk"))).cast("long"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("c_fp")).as("rrf_fp"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("rrf_fp"))
  }

  /** DuckDB twin of [[rrfFuse]] as a WITH-clause body: expects CTEs
    * named by `inputs`, each (query_id, neighbor_id, rnk); defines
    * `fused` = (query_id, rnk, neighbor_id, rrf_fp) with ranks <= k.
    */
  def rrfFuseSql(inputs: Seq[String], k: Int, kRrf: Int = 60): String = {
    val union = inputs
      .map(t => s"SELECT query_id, neighbor_id, rnk FROM $t")
      .mkString("\n               UNION ALL ")
    s"""
      tagged AS ($union),
      rrf AS (SELECT query_id, neighbor_id,
                     SUM(CAST(FLOOR($ScoreScale / ($kRrf.0 + rnk)) AS BIGINT)) AS rrf_fp
              FROM tagged GROUP BY 1, 2),
      fused AS (SELECT query_id, neighbor_id, rrf_fp,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY rrf_fp DESC, neighbor_id) AS rnk
                FROM rrf QUALIFY rnk <= $k)"""
  }
}
