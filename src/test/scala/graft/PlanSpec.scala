package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftshim.ListenerBusDrain
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Plan-shape assertions: the scale-critical properties of key query
  * plans (pushdown reaching scans, dims broadcast, bounded shuffle
  * counts, native expressions staying in codegen) guarded against
  * regressions. String-level checks on the executed plan — coarse, but
  * they pin exactly the properties README's scale section claims.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private object Aqe extends AdaptiveSparkPlanHelper

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  /** [[plan]] of `q`, and the executed plans of the `localCheckpoint`s
    * that building it ran, in the order they finished: an indexed
    * probe reads its keys' sources in its one key checkpoint, not in
    * the served plan.
    */
  private def planAndCheckpoints(q: String): (String, Seq[String]) = {
    val done = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") done.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    ListenerBusDrain.awaitEmpty(spark)
    spark.listenerManager.register(listener)
    try {
      val p = plan(q)
      ListenerBusDrain.awaitEmpty(spark)
      (p, done.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("q1: filter and projection push into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter must reach the scan")
    assert(!p.contains("l_comment"), "unused columns must be pruned")
  }

  test("q2: star-join dims broadcast, fact side never shuffles for the join") {
    val p = plan("q2_star_join")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("SortMergeJoin"), "no sort-merge on the star join")
  }

  test("q75: theta join plans broadcast nested-loop") {
    assert(plan("q75_theta_join").contains("BroadcastNestedLoopJoin"))
  }

  test("q45: as-of join is a single keyed shuffle + window pass") {
    val p = plan("q45_asof_join")
    assert(p.contains("Window"), "windowed-union implementation expected")
    // exchanges: one to partition by key for the window, one for the
    // final orderBy — NO join-shaped exchange pair, no cartesian
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"as-of join grew extra shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "as-of must not plan a quadratic join")
  }

  test("q34: vec_dot native expression appears in the plan (no lambda)") {
    val p = plan("q34_similarity_topk")
    assert(p.contains("vec_dot"), "native dot product expected")
    assert(!p.toLowerCase.contains("lambdafunction"),
      "higher-order-function lambdas should be gone from the hot path")
  }

  test("q31: minhash sig/sets each ONE object barrier, buckets capped before pairing") {
    val p = plan("q31_minhash_dedup")
    // signature computation: a single MapPartitions pass directly over
    // the scan — no shuffle until the band explode
    val sigIdx = p.indexOf("MapPartitions graft.operators.Dedup")
    assert(sigIdx >= 0, "signatures must come from the mapPartitions pass")
    val scanIdx = p.indexOf("FileScan parquet [doc_id", sigIdx)
    assert(scanIdx > sigIdx, "mapPartitions must sit on the scan")
    assert(!p.substring(sigIdx, scanIdx).contains("Exchange"),
      "zero shuffle between scan and signature pass")
    // exactly TWO object barriers in the whole plan: one signature
    // pass + one shingle-set pass — the self-join formulation ran four
    // (no ReusedExchange across object barriers)
    assert("MapPartitions graft\\.operators\\.Dedup".r.findAllIn(p).size == 2,
      s"sig and sets must each compute once:\n$p")
    // the bucket cap gates pairing (bounds the quadratic): a spillable
    // WINDOW count filtered BEFORE the bounded collect_list
    assert("bucket_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"bucket-size cap filter missing:\n$p")
    assert(p.contains("Exchange hashpartitioning(bk"),
      "bucket aggregation keyed on the band key expected")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
    // incremental pair emission: no single row may buffer the O(cap²)
    // pair array — posexplode + tail slice, not flatten(transform(…))
    assert(p.contains("Generate posexplode") && "slice\\(ds#".r.findFirstIn(p).isDefined,
      s"pair emission must be incremental (posexplode + slice):\n$p")
    assert(!p.contains("flatten(transform"),
      "the O(cap²) single-row pair array must not come back")
  }

  test("q33: ngram-jaccard runs ONE shingle pass, postings capped before pairing") {
    val p = plan("q33_ngram_jaccard")
    assert("MapPartitions graft\\.operators\\.Dedup".r.findAllIn(p).size == 1,
      s"the shingle-set pass must compute once:\n$p")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
    assert(p.contains("Generate posexplode") && "slice\\(ds#".r.findFirstIn(p).isDefined,
      s"pair emission must be incremental (posexplode + slice):\n$p")
    assert(!p.contains("flatten(transform"),
      "the O(cap²) single-row pair array must not come back")
  }

  test("q153: containment shares q33's exact physical shape (one pass, capped postings)") {
    val p = plan("q153_ngram_containment")
    assert("MapPartitions graft\\.operators\\.Dedup".r.findAllIn(p).size == 1,
      s"the shingle-set pass must compute once:\n$p")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
  }

  test("q119: decontamination probe broadcasts the benchmark, corpus never shuffles for the join") {
    val p = plan("q119_decontamination")
    assert(p.contains("BroadcastHashJoin"), "benchmark side must broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus probe must not shuffle")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
  }

  test("q36: cosine near-dup blocks are capped before the pair join") {
    val p = plan("q36_cosine_near_dup")
    // the block cap must gate the quadratic self-join, exactly like the
    // minhash bucket cap (a viral block would otherwise dominate)
    assert("blk_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined &&
      p.contains("Filter"),
      s"block-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
  }

  test("q93: salted join shuffles on (key, salt) — skew splits across reducers") {
    val p = plan("q93_salted_skew_join")
    assert("Exchange hashpartitioning\\(l_orderkey#\\d+L?, __salt".r
      .findAllIn(p).size == 2,
      s"both join sides must partition on the salted key:\n$p")
    assert("SortMergeJoin \\[l_orderkey#\\d+L?, __salt".r.findFirstIn(p)
      .isDefined, "join keys must include the salt")
  }

  test("q94: bucketed co-located join reads both sides pre-shuffled, no join exchange") {
    val p = plan("q94_bucketed_join")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both scans must be bucketed:\n$p")
    assert(p.contains("SortMergeJoin"), "co-located SMJ expected")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed layout must eliminate the join shuffle:\n$p")
  }

  test("q96: quantized ANN scores with native vec_dot, queries broadcast") {
    val p = plan("q96_quantized_ann")
    assert(p.contains("vec_dot"), "native dot product expected")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query side must broadcast for corpus-local scoring")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q35: IVF assignment is a zero-shuffle literal argmin, scoring joins per bucket") {
    val p = plan("q35_ivf_topk")
    // centroid assignment: literal-centroid fold, NO join shape at all
    // (the former broadcast-cross + window form exchanged K×corpus rows)
    assert(p.contains("vec_nearest"), "native literal-centroid argmin expected")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "assignment must not cross-join the centroid side")
    // scoring join is keyed on the bucket id, not all-pairs
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"bucket-keyed equi-join expected:\n$p")
    // top-k per query is rank-pushed (partial WindowGroupLimit before
    // the shuffle), and the dot product is the native expression
    assert(p.contains("WindowGroupLimit"), "top-k must push group limits")
    assert(p.contains("vec_dot"), "native dot product expected")
  }

  test("assignL2 / ivfAssign alone plan ZERO exchanges and ZERO joins") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, sf, "embeddings")
    val kmCent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("centroid"))
    val pa = graft.operators.Clustering.assignL2(emb, kmCent)
      .queryExecution.executedPlan.toString
    assert(!pa.contains("Exchange") && !pa.contains("Join"),
      s"assignL2 must be a pure narrow projection:\n$pa")
    val ivfCent = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val pi = graft.operators.Similarity.ivfAssign(emb, ivfCent)
      .queryExecution.executedPlan.toString
    assert(!pi.contains("Exchange") && !pi.contains("Join"),
      s"ivfAssign must be a pure narrow projection:\n$pi")
  }

  test("q109: stratified sample is one stratum shuffle with pushed group limit") {
    val p = plan("q109_stratified_sample")
    // the rk <= k predicate must push into the window sort (partial
    // WindowGroupLimit before the exchange) so each stratum keeps only
    // k candidates per map partition at 100 TB, not the whole stratum
    assert(p.contains("WindowGroupLimit"), s"rk filter must push into the window:\n$p")
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"one stratum shuffle + final sort expected:\n$p")
  }

  test("q110: PII redaction is pure codegen projection — no UDF, no shuffle before sort") {
    val p = plan("q110_pii_redaction")
    // codegen-able Project of built-in regexp expressions (AQE plans
    // don't print WholeStageCodegen spans pre-execution, so pin the
    // expression shape: plain Project, no UDF object barrier)
    assert(p.contains("regexp_replace(regexp_replace(regexp_replace("),
      "redaction must be one nested regexp projection")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF") &&
      !p.contains("MapPartitions"), "no UDF/object barrier in the redaction path")
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"only the final orderBy may shuffle:\n$p")
  }

  test("q112: vocab counts partial-aggregate before the shuffle, top-k pushes") {
    val p = plan("q112_vocab_topk")
    // map-side combine: a partial_count must appear below the
    // (lang, tok) exchange — the shuffled volume is the vocabulary,
    // not the exploded corpus
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"map-side partial aggregation expected:\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k must push group limits")
  }

  test("q114: LSH signatures are literal-plane vec_dots, buckets capped, no cross") {
    val p = plan("q114_lsh_near_dup")
    assert(p.contains("vec_dot"), "sign bits must come from the native dot")
    assert("bucket_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"bucket-size cap filter missing:\n$p")
    assert(p.contains("Generate explode"), "band explode expected")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
    assert(p.contains("Generate posexplode") && "slice\\(ds#".r.findFirstIn(p).isDefined,
      s"pair emission must be incremental (posexplode + slice):\n$p")
    assert(!p.contains("flatten(transform"),
      "the O(cap²) single-row pair array must not come back")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Bench/Verify enable spark.sql.optimizer.runtime.bloomFilter.enabled;
    // its size thresholds gate it to production scale, so pin the
    // MECHANISM here by dropping the thresholds: a selective dim filter
    // must inject might_contain onto the fact side before the shuffle
    val conf = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creation threshold is a MAX (dim side must be smaller), scan
      // threshold a MIN (fact side must be larger) — relax both so the
      // rule fires at test SF
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, sf, "lineitem")
      val ord = Tables.load(spark, sf, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val p = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"bloom-filter semi-join reduction must reach the fact side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q113: token chunking is explode-only — no shuffle before the final sort") {
    val p = plan("q113_token_chunks")
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate explode"), "one generator per document expected")
  }

  test("q123: block dedup is two keyed shuffles (fingerprint window, doc reassembly)") {
    val p = plan("q123_block_dedup")
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    // fingerprint window + reassembly groupBy + final orderBy — never a join
    assert(exchanges <= 3, s"block dedup grew extra shuffles:\n$p")
    assert(!p.contains("Join"), "keep-first must be a window, not a self-join")
    assert(p.contains("Generate explode"), "one generator per document expected")
  }

  test("q131: sequence packing is one shard shuffle — window + explode, no join") {
    val p = plan("q131_seq_pack")
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    // shard hash-partitioning + the final orderBy range exchange only
    assert(exchanges <= 2, s"packing grew extra shuffles:\n$p")
    assert(!p.contains("Join"), "offsets come from one running-sum window, not a join")
    assert(p.contains("Generate explode"), "sequence spans must explode, not self-join")
  }

  test("q126: tf-idf is one corpus pass — df via window, N broadcast, no cartesian") {
    val p = plan("q126_tfidf_topk")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"corpus must scan once (plus the 1-row N):\n$p")
    assert(p.contains("partial_count"), "term counts must map-side combine")
    assert(p.contains("WindowGroupLimit"), "top-k rank must push into the window sort")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row N must broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian for the scalar join")
  }

  test("q128: k-means assignment is a zero-shuffle literal argmin, update map-side combines") {
    val p = plan("q128_kmeans")
    // argmin: native literal-centroid expression — never a join, and
    // never the old K×corpus window exchange hash-partitioned on the
    // vector id
    assert(p.contains("vec_nearest"), "native literal-centroid argmin expected")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "assignment must not cross-join the centroid side")
    assert(!"Exchange hashpartitioning\\(vec_id".r.findFirstIn(p).isDefined,
      s"the K×corpus argmin exchange must stay gone:\n$p")
    // centroid update: (cid, pos) component sums partial-aggregate
    // before their exchange — the shuffle carries K·dim rows per
    // partition, not the corpus
    assert(p.contains("partial_sum"), "component sums must map-side combine")
    assert(p.contains("vec_dot"), "native dot product expected")
  }

  test("q124: weighted mix is a pure narrow map — no shuffle before the final sort") {
    val p = plan("q124_weighted_mix")
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"mixing must not shuffle:\n$p")
    assert(p.contains("Generate explode"), "replication must be explode, not a join")
  }

  test("q133: probed IVF keeps the bucket-keyed join shape at nprobe=2") {
    val p = plan("q133_ivf_nprobe")
    // probe-set + assignment both via the native literal-centroid ranking
    assert(p.contains("vec_nearest"),
      "native literal-centroid ranking expected for probe + assignment")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k must push group limits")
    assert(p.contains("vec_dot"), "native dot product expected")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q134: IVF index serving prunes the scan to the probed buckets") {
    val p = plan("q134_ivf_index")
    // the probed bucket ids must reach the index scan as PARTITION
    // filters — the whole point of the bucket-partitioned layout is
    // that a query batch reads ~nprobe/K of the corpus directories
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probed buckets must prune as partition filters:\n$p")
    assert(p.contains("vec_nearest"),
      "probe ranking must use the native literal-centroid expression")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k must push group limits")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q183: recall audit — served side prunes to probed buckets, exact side broadcasts the query sample") {
    val p = plan("q183_ivf_recall")
    // the served shortlist must keep q134's pruned-serve shape: the
    // audit measures serving as deployed, not a special read path
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"served side must prune as partition filters:\n$p")
    assert(p.contains("vec_nearest"),
      "probe ranking must use the native literal-centroid expression")
    assert(p.contains("WindowGroupLimit"), "both top-k sides push group limits")
    // the exact side is ONE full index scan with the |Q|-row query
    // sample broadcast — never a shuffle of the corpus against queries
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"exact side must broadcast the query sample over one scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"nothing corpus-sized may shuffle for a join:\n$p")
  }

  test("q135: quality bucketing is a narrow map over the NLL pass — no corpus sort") {
    val p = plan("q135_quality_mix")
    // fixed NLL cutoffs keep bucketing out of any global window: a
    // ntile/row_number formulation would rangepartition the whole
    // corpus through one sort; the only window allowed is q130's
    // token-keyed vocabulary count
    assert(!p.contains("ntile"), "bucketing must use fixed cutoffs, not ntile")
    assert("Window \\[sum".r.findFirstIn(p).isDefined ||
      p.contains("windowspecdefinition(tok"),
      s"the vocab count window (token-keyed) is the only window expected:\n$p")
    assert(p.contains("Generate explode"), "replication must be explode, not a join")
    assert(!p.contains("CartesianProduct"), "the 1-row total must broadcast")
  }

  test("q137: appended index still serves through a partition-pruned scan") {
    val p = plan("q137_ivf_append")
    // the delta append lands inside the same bucket=… directory layout,
    // so the probed-bucket partition filter must keep pruning the scan
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probed buckets must prune as partition filters on the appended layout:\n$p")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q136: PQ ADC serving is a narrow corpus scan + broadcast query side, native pq_adc") {
    val p = plan("q136_pq_adc")
    // scoring a pair must be the codegen ADC table lookup, the query
    // LUT the single native pq_lut pass (not 2,048 vec_dot columns),
    // and the exact side the native dot product — no lambdas
    assert(p.contains("pq_adc"), "native ADC table lookup expected")
    assert(p.contains("pq_lut"), "query LUT must be the one-pass native builder")
    assert(p.contains("vec_dot"), "native dot product expected")
    assert(!p.toLowerCase.contains("lambdafunction"),
      "higher-order-function lambdas should be gone from the hot path")
    // the query batch (with its per-query LUTs) broadcasts; the corpus
    // codes never shuffle before the per-query top-k window
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query side must broadcast for corpus-local ADC scoring")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
    assert(p.contains("WindowGroupLimit"), "top-k must push group limits")
  }

  test("q138: IVF-PQ serving joins codes bucket-keyed, scores native pq_adc, no cartesian") {
    val p = plan("q138_ivfpq_adc")
    // scoring must be the codegen ADC table lookup against the residual
    // codebook LUT, probe/assignment the native literal-centroid ranking
    assert(p.contains("pq_adc"), "native ADC table lookup expected")
    assert(p.contains("vec_nearest"),
      "probe ranking must use the native literal-centroid expression")
    // the candidate join stays keyed on the coarse bucket id (the
    // query×probe side broadcasts with its LUTs) — never an all-pairs
    // scan of the code rows
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k must push group limits")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q139: written IVF-PQ index serves through a partition-pruned code scan") {
    val p = plan("q139_ivfpq_index")
    // the whole point of the written layout: probed buckets prune the
    // SCAN (q134's PartitionFilters shape), and the rows read are
    // codes+norm — never the embedding vectors
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probed buckets must prune as partition filters:\n$p")
    assert(p.contains("pq_adc"), "native ADC table lookup expected")
    assert(p.contains("pq_lut"), "query LUT must be the one-pass native builder")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k must push group limits")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q140: appended IVF-PQ layout still serves through a partition-pruned scan") {
    val p = plan("q140_ivfpq_append")
    // delta appends land inside the same bucket=… directories, so the
    // probed-bucket partition filter must keep pruning the scan
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probed buckets must prune as partition filters on the appended layout:\n$p")
    assert(p.contains("pq_adc"), "native ADC table lookup expected")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q141: self-contained index serves from disk through the same pruned-scan shape") {
    val p = plan("q141_ivfpq_selfindex")
    // reloading centroids/codebook from the meta layout must not cost
    // the serving plan its shape: probed buckets still prune the codes
    // scan, the LUT is still the one-pass native builder
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probed buckets must prune as partition filters:\n$p")
    assert(p.contains("pq_adc"), "native ADC table lookup expected")
    assert(p.contains("pq_lut"), "query LUT must be the one-pass native builder")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q142: rerank fetches shortlist vectors via broadcast — corpus never shuffles") {
    val p = plan("q142_ivfpq_rerank")
    // stage 1 must stay the ADC scorer; stage 2's vector fetch must be
    // the broadcast-class shortlist joined INTO the corpus scan on the
    // neighbor id — an exchange of the corpus for the rerank would
    // defeat the two-stage design at 100 TB
    assert(p.contains("pq_adc"), "ADC shortlist stage expected")
    assert("BroadcastHashJoin \\[neighbor_id".r.findFirstIn(p).isDefined,
      s"shortlist fetch must broadcast-join the corpus on neighbor_id:\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k must push group limits")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q143: cold-appended self-contained index serves through a pruned scan") {
    val p = plan("q143_ivfpq_cold_append")
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probed buckets must prune as partition filters after the cold append:\n$p")
    assert(p.contains("pq_adc"), "native ADC table lookup expected")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q151: the compacted repair index serves through the same pruned scan") {
    val p = plan("q151_ivfpq_repair")
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probed buckets must prune as partition filters after the repair:\n$p")
    assert(p.contains("pq_adc"), "native ADC table lookup expected")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q144: BPE pair counts partial-aggregate before the bounded-vocab rank") {
    val p = plan("q144_bpe_pairs")
    // the corpus-sized work is the two generators on the scan; the
    // shuffle carries the <=1296-key pair vocabulary (map-side combine)
    // and the unpartitioned rank window orders only that vocabulary
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"pair counts must map-side combine:\n$p")
    assert(p.contains("Generate explode"), "token/pair explode expected")
    // the unpartitioned rank pushes as a GLOBAL top-k below the window
    // (TakeOrderedAndProject — even stronger than a WindowGroupLimit)
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      s"the rk <= k filter must push into the sort:\n$p")
    assert(!p.contains("Join"), "pairing must be explode-only, never a join")
  }

  test("q145: index stats read codes+norms only and partial-aggregate to bucket rows") {
    val p = plan("q145_ivfpq_stats")
    // the audit must never touch vectors: the scan reads the narrow
    // (bucket, codes, cn) projection and combines map-side, so the
    // shuffle carries <=K bucket rows, not the index
    assert(p.contains("partial_count"), s"stats must map-side combine:\n$p")
    assert(!p.contains("Join"), "stats is one grouped scan, never a join")
    assert("ReadSchema: struct<vec_id:[^,]*,codes:".r.findFirstIn(p).isDefined ||
      !p.contains("embedding"),
      s"the stats scan must not read embedding vectors:\n$p")
  }

  test("q146: BM25 stats all read the ONE materialized inverted index; only pruned query scans touch parquet") {
    val p = plan("q146_bm25_topk")
    // the corpus tokenize+tf aggregation materializes once
    // (localCheckpoint); dl, df, and the posting join read it back —
    // any parquet scan left must carry the query-side doc_id<8 prune
    assert(p.contains("Scan ExistingRDD"),
      s"the inverted index must be the materialized frame:\n$p")
    val unpruned = "FileScan parquet [^\\n]*".r.findAllIn(p)
      .filterNot(_.contains("LessThan(doc_id,8)")).toSeq
    assert(unpruned.isEmpty,
      s"every remaining parquet scan must be the pruned query side:\n$unpruned")
    assert(p.contains("BroadcastHashJoin"), "query-term joins must broadcast")
    assert(p.contains("partial_sum"), "score sums must map-side combine")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must push into the sort")
    assert(!p.contains("CartesianProduct"), "the 1-row stats join must broadcast")
  }

  test("q154: indexed BM25 serves through shard-pruned postings+terms scans, zero corpus joins") {
    val p = plan("q154_bm25_indexed")
    // the query terms' md5 shards must prune BOTH the postings and the
    // terms-sidecar directories (df lives in terms/, append-stable)
    assert("PartitionFilters: \\[[^\\]]*shard".r.findAllIn(p).size >= 2,
      s"query-term shards must prune both index scans:\n$p")
    // tf/dl ride inline; df and the query terms probe in as broadcasts
    assert(p.contains("BroadcastHashJoin"), "term/df probes must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized join may appear at serve time:\n$p")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must push into the sort")
    assert(!p.contains("CartesianProduct"), "the 1-row stats join must broadcast")
  }

  test("q162: index stats read postings+terms columns only, partial-aggregate to shard rows") {
    val p = plan("q162_bm25_stats")
    assert(!p.contains("text"), "stats must never read document text")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "shard stats must map-side combine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the 256-row join must stay keyed:\n$p")
  }

  test("q155: append-then-serve keeps the q154 serve shape (pruned scans, no corpus joins)") {
    val p = plan("q155_bm25_append")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findAllIn(p).size >= 2,
      s"the appended index must still prune both scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), "term/df probes must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"generation-summed df must stay broadcast-class:\n$p")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must push into the sort")
    assert(!p.contains("CartesianProduct"), "the 1-row stats join must broadcast")
  }

  test("q163: the serving stack reads BOTH written indexes pruned — shard'd BM25, bucket'd IVF-PQ") {
    val p = plan("q163_retrieval_stack")
    // lexical side: query-term shards prune postings+terms; semantic
    // side: probed buckets prune the code scan
    assert("PartitionFilters: \\[[^\\]]*shard".r.findAllIn(p).size >= 2,
      s"BM25 postings+terms scans must stay shard-pruned:\n$p")
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"IVF-PQ code scan must stay bucket-pruned:\n$p")
    assert(p.contains("pq_adc"), "semantic scoring must stay native ADC")
    assert(p.contains("Union"), "rankers must union, not join")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 3,
      s"shortlist and fusion top-k must all push:\n$p")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q147: hybrid fusion unions two pushed-top-k shortlists, semantic side native vec_dot") {
    val p = plan("q147_hybrid_rrf")
    assert(p.contains("Union"), "rankers must union, not join")
    assert(p.contains("vec_dot"), "semantic shortlist must use the native dot")
    // both shortlists AND the fused rank push their k into the sort
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4,
      s"shortlist and fusion top-k must all push:\n$p")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q149: BPE encode is one narrow corpus pass — merge chain in codegen, no join") {
    val p = plan("q149_bpe_encode")
    // the nested-replace merge chain rides the token explode inside
    // codegen; the only shuffle carries per-doc partial counts
    assert(p.contains("Generate explode"), "token explode expected")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "per-doc counts must map-side combine")
    assert(p.contains("replace("), "merge chain must be literal replaces in the projection")
    assert(!p.contains("Join"), "encode must not join the merge table")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"encode reads the corpus once:\n$p")
  }

  test("q159: incremental dedup serves purely from the written index — pruned bands, sigs verify") {
    val served = SparkEntry.queries("q159_minhash_incremental")(spark, sf)
      .queryExecution.executedPlan
    val p = served.toString
    // the snapshot's band-key shards must prune the bands/ directories
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot shards must prune the bands scan:\n$p")
    // ZERO object-barrier passes in the served plan: the snapshot's
    // signature pass ran once at probe-build time (in the probe's one
    // checkpoint of its keys), and the verify sets come from sigs/
    // parquet, NOT a re-tokenize — the whole point of the written
    // layout
    assert("MapPartitions graft\\.operators\\.Dedup".r.findAllIn(p).isEmpty,
      s"the served plan must be purely index-driven:\n$p")
    // by the scan's root path, not its plan string: the string cuts the
    // location at spark.sql.maxMetadataStringLength characters
    val roots = Aqe.collectWithSubqueries(served) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.exists(_.endsWith("/sigs")),
      s"verify must read the written sigs layout, scans read $roots")
    // same capped incremental pair emission as the fresh path
    assert("bucket_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"bucket-size cap filter missing:\n$p")
    // r21 pruned regime on the minhash member: the (bk) semi prune
    // gates which buckets emit, and the broadcast __delta flag drops
    // (base, base) pairs at emission
    assert(p.contains("LeftSemi"),
      s"the (bk) band-key semi prune must gate the bands scan:\n$p")
    assert(p.contains("__delta"),
      s"the early snapshot-endpoint filter must gate pair emission:\n$p")
    assert(p.contains("Generate posexplode") && "slice\\(ds#".r.findFirstIn(p).isDefined,
      s"pair emission must be incremental (posexplode + slice):\n$p")
    // the snapshot-id flag is one broadcast probe, never a loop join
    assert(p.contains("BroadcastHashJoin"), "snapshot-id flags must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no OR-condition loop join:\n$p")
  }

  test("q161: incremental containment probes pruned postings, caps intact, no recompute joins") {
    val p = plan("q161_containment_incremental")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot shingle shards must prune the postings scan:\n$p")
    // the snapshot shingle pass runs in the probe's one checkpoint of
    // its keys, so the served plan reads the written postings
    // exclusively
    assert("MapPartitions graft\\.operators\\.Dedup".r.findAllIn(p).isEmpty,
      s"the served plan must be purely index-driven:\n$p")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(p.contains("Generate posexplode") && "slice\\(ds#".r.findFirstIn(p).isDefined,
      s"pair emission must be incremental (posexplode + slice):\n$p")
    assert(p.contains("BroadcastHashJoin"), "snapshot-id flags must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no OR-condition loop join:\n$p")
  }

  test("q160: exact incremental dedup is one pruned probe + broadcast semi + keyed agg") {
    val p = plan("q160_exact_incremental")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the agg")
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "cluster stats must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may join:\n$p")
  }

  test("q171: the standing probe after streaming ingest keeps q160's pruned-probe shape") {
    val p = plan("q171_streaming_ingest")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the agg")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may join:\n$p")
  }

  test("q172: incremental block dedup probes pruned text-free fingerprints, snapshot broadcasts") {
    val p = plan("q172_block_incremental")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the winner agg")
    assert(p.contains("partial_min"), "winner coordinates must map-side combine")
    assert(!p.contains("CartesianProduct"), s"nothing may cross-join:\n$p")
  }

  test("q173: indexed SemDeDup reads ONLY snapshot-touched cluster dirs; pair join keyed and capped") {
    val p = plan("q173_semantic_incremental")
    // the snapshot's distinct cluster ids must prune the index scan as
    // PARTITION filters — the probe reads the touched cid=… dirs, not
    // the corpus
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      s"snapshot cluster ids must prune the index scan:\n$p")
    // the served plan reads the WRITTEN index exclusively: the snapshot
    // side is the materialized checkpoint (the embeddings corpus never
    // re-scans), so exactly one parquet scan — the index itself
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"only the semantic index may scan, got $scans:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot probe must come from its checkpoint, not a re-assignment")
    assert(p.contains("vec_dot"), "pair scoring must stay the native dot")
    // the union-membership cluster-size cap must gate the pair join
    assert("cn#\\d+L? <= 10000".r.findFirstIn(p).isDefined,
      s"cluster-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pair join must stay cid-keyed:\n$p")
  }

  test("q194: asset dedup probe keeps q160's shape — pruned shards, broadcast semi, keyed agg") {
    val p = plan("q194_asset_dedup_indexed")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the asset-index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the agg")
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "cluster stats must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may join:\n$p")
  }

  test("q198: repaired asset index serves through the q194 probe shape; scalars broadcast") {
    val p = plan("q198_asset_repair")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the repaired-index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the agg")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 1-row damage scalars must broadcast, never cross:\n$p")
  }

  test("q199: streamed-in asset generations keep the q194 pruned-probe shape") {
    val p = plan("q199_streaming_asset_ingest")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the streamed index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the agg")
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "cluster stats must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may join:\n$p")
  }

  test("q203: asset drift audit keeps q175's shape — one grouped index scan, no join") {
    val p = plan("q203_asset_drift")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"the audit reads the index once, got $scans:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "per-cluster stats must map-side combine before their shuffle")
    assert(!p.contains("Join"), "the audit is a grouped scan, never a join")
    assert(p.contains("Window"),
      "global shares run as a window on the K-row aggregate")
  }

  test("q202: v9 media manifest — every probe pruned, payloads read once via checkpoints") {
    val p = plan("q202_curation_v9")
    // exact-payload clusters + frame fingerprints prune on md5 shards;
    // the featurized near-dup probe prunes on touched cluster ids
    assert("PartitionFilters: \\[[^\\]]*shard".r.findAllIn(p).size >= 2,
      s"asset/frame index scans must stay shard-pruned:\n$p")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      s"the featurized semantic probe must stay cid-pruned:\n$p")
    // the snapshot payload/feature frames ride their checkpoints —
    // the documents corpus never reappears in the served plan
    assert(p.contains("Scan ExistingRDD"),
      "snapshot probes must come from their checkpoints")
    assert(!p.contains("documents.parquet"),
      s"the corpus must not re-scan in the manifest plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"nothing may cross-join:\n$p")
  }

  test("q204: streamed-in frame generations keep the q200 pruned-probe shape") {
    val p = plan("q204_streaming_frame_ingest")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the streamed frame index:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the winner agg")
    assert(p.contains("partial_min"), "winner coordinates must map-side combine")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot frames must come from their checkpoint")
    assert(!p.contains("CartesianProduct"), s"nothing may cross-join:\n$p")
  }

  test("q205: the compacted BM25 index serves through the q154 pruned shape; file counts ride as literals") {
    val p = plan("q205_bm25_compact_amplification")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findAllIn(p).size >= 2,
      s"query-term shards must prune both compacted-index scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), "term/df probes must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized join may appear at serve time:\n$p")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must push into the sort")
    assert(!p.contains("CartesianProduct"),
      "the file-count scalars are driver literals, never a cross join")
  }

  test("q206: the compacted asset index serves through the q194 probe shape; file counts ride as literals") {
    val p = plan("q206_asset_compact_amplification")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the compacted-index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the agg")
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "cluster stats must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may join; the counts are literals:\n$p")
  }

  test("q207: the packed-asset probe keeps the q194 shape; the snapshot reads columnar packed parquet") {
    val (p, checkpoints) = planAndCheckpoints("q207_packed_asset_ingest")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the agg")
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "cluster stats must map-side combine")
    // the snapshot side scans the PACKED parquet (columnar, bounded
    // files), not a binaryFile edge — payload reads stay columnar. It
    // is read once, by the probe's key checkpoint (the last checkpoint
    // the serve runs), which the served plan then scans
    val keys = checkpoints.lastOption.getOrElse("")
    assert("ReadSchema: [^\\n]*payload:binary".r.findFirstIn(keys).isDefined,
      s"the snapshot must read the packed payload column:\n$keys")
    assert(p.contains("Scan ExistingRDD"),
      s"the served plan must read the probe's key checkpoint:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may join:\n$p")
  }

  test("q208: frame simhash probe keeps q168's shape — pruned band shards, broadcast snapshot, stored-long verify") {
    val p = plan("q208_frame_simhash_incremental")
    assert("PartitionFilters: \\[[^\\]]*pshard".r.findFirstIn(p).isDefined,
      s"snapshot frame band shards must prune the index scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "snapshot frame bands must broadcast into the probed residue")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot frame fingerprints must come from their checkpoint")
    assert(!p.contains("CartesianProduct"), s"nothing may cross-join:\n$p")
  }

  test("q209: the decontamination probe prunes to eval shards, hits broadcast, eval frames from checkpoint") {
    val p = plan("q209_frame_decontamination")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"eval frame shards must prune the corpus-index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "eval fingerprints must broadcast-semi-join into the index scan")
    assert(p.contains("Scan ExistingRDD"),
      "the eval frames must come from their checkpoint, not a re-hash")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may join:\n$p")
  }

  test("q210: v10 released-media manifest — verdicts from checkpoints, survivor mixture broadcast, no corpus re-scan") {
    // the dedup probes (shard/cid-pruned — pinned by q194/q197's own
    // tests) run UPSTREAM of the verdicts checkpoint; the served plan
    // is the checkpoint + the mixture stage only
    val p = plan("q210_curation_v10")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot verdicts must ride their checkpoint into the mixture")
    assert(!p.contains("documents.parquet"),
      s"the corpus must not re-scan in the manifest plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the survivor-sized mixture manifest must broadcast onto the funnel")
    assert(!p.contains("SortMergeJoin"),
      s"every mixture-stage join is survivor- or S-row-sized — broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the qtot scalar must broadcast, never cross:\n$p")
  }

  test("q211: the repaired frame index serves through the q200 probe shape; damage scalars broadcast") {
    val p = plan("q211_frame_repair")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the repaired frame index:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the winner agg")
    assert(p.contains("partial_min"), "winner coordinates must map-side combine")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row damage scalars must broadcast, never sort-merge:\n$p")
  }

  test("q212: streamed-in frame-simhash generations keep q208's pruned band probe") {
    val p = plan("q212_streaming_frame_simhash")
    assert("PartitionFilters: \\[[^\\]]*pshard".r.findFirstIn(p).isDefined,
      s"snapshot frame band shards must prune the streamed index scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "snapshot frame bands must broadcast into the probed residue")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot frame fingerprints must come from their checkpoint")
    assert(!p.contains("CartesianProduct"), s"nothing may cross-join:\n$p")
  }

  test("q213: band repair serves through q208's pruned probe; damage scalars broadcast") {
    val p = plan("q213_frame_simhash_repair")
    assert("PartitionFilters: \\[[^\\]]*pshard".r.findFirstIn(p).isDefined,
      s"snapshot frame band shards must prune the repaired index scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "snapshot frame bands must broadcast into the probed residue")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot frame fingerprints must come from their checkpoint")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row damage scalars must broadcast, never sort-merge:\n$p")
  }

  test("q214: the index-served manifest reads only fingerprint rows; manifests map-side combine and broadcast-join") {
    val p = plan("q214_asset_manifest")
    assert(p.contains("ReadSchema: struct<asset_id:bigint,fingerprint:string>"),
      s"the from-index serve must scan only the 40-byte fingerprint rows:\n$p")
    assert(p.contains("partial_bit_xor") || p.contains("partial_bitxor"),
      s"shard checksums must map-side combine before the S-row shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the index-served manifest must broadcast into the merged one")
    // the merge's keyed FULL OUTER cannot broadcast in Spark — it
    // sort-merges, which is fine: manifests are S-row (≤256 shards)
    // by construction, so the sort is bounded regardless of corpus size
    assert(!p.contains("CartesianProduct"),
      s"nothing may cross-join:\n$p")
  }

  test("q215: the served manifest aggregates S-row generation contributions only, map-side combined") {
    val p = plan("q215_streaming_manifest")
    assert(p.contains(
      "ReadSchema: struct<shard:string,n_assets:bigint,n_bytes:bigint,checksum:bigint>"),
      s"the serve must scan only the S-row contribution rows — never payloads:\n$p")
    assert(p.contains("partial_bit_xor") || p.contains("partial_bitxor"),
      s"generation checksums must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the serve is one bounded aggregate — no joins:\n$p")
  }

  test("q216: streamed media manifest keeps q202's probe shape; consistency scalar broadcasts") {
    val p = plan("q216_streaming_media")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findAllIn(p).size >= 2,
      s"asset/frame index scans must stay shard-pruned:\n$p")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      s"the featurized semantic probe must stay cid-pruned:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      "snapshot probes must come from their checkpoints")
    assert(!p.contains("documents.parquet"),
      s"the corpus must not re-scan in the manifest plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"nothing may cross-join:\n$p")
  }

  test("q200: frame dedup probes pruned text-free fingerprints; payloads stay in the featurize pass") {
    val p = plan("q200_frame_dedup_indexed")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the frame-index scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "snapshot fingerprints must broadcast-semi-join before the winner agg")
    assert(p.contains("partial_min"), "winner coordinates must map-side combine")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot frames must come from their checkpoint, not a re-hash")
    assert(!p.contains("CartesianProduct"), s"nothing may cross-join:\n$p")
  }

  test("q201: streamed-in featurized generations keep q197's pruned-probe shape") {
    val p = plan("q201_streaming_asset_near_dup")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      s"snapshot cluster ids must prune the streamed index scan:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"only the semantic index may scan, got $scans:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot probe must come from its checkpoint")
    assert(p.contains("vec_dot"), "pair scoring must stay the native dot")
    assert("cn#\\d+L? <= 10000".r.findFirstIn(p).isDefined,
      s"cluster-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pair join must stay cid-keyed:\n$p")
  }

  test("q197: asset near-dup keeps q173's pruned-probe shape; payloads never shuffle") {
    val p = plan("q197_asset_near_dup_indexed")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      s"snapshot cluster ids must prune the asset-semantic index scan:\n$p")
    // one parquet scan total — the index; the featurized snapshot rides
    // its checkpoint (the documents corpus and its payloads re-enter
    // nothing downstream of the featurize pass)
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"only the semantic index may scan, got $scans:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot probe must come from its checkpoint, not a re-featurize")
    assert(p.contains("vec_dot"), "pair scoring must stay the native dot")
    assert("cn#\\d+L? <= 10000".r.findFirstIn(p).isDefined,
      s"cluster-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pair join must stay cid-keyed:\n$p")
  }

  test("q174: streamed-in IVF generations still serve through a partition-pruned scan") {
    val p = plan("q174_streaming_ivf_ingest")
    // generation appends land inside the same bucket=… layout, so the
    // probed-bucket partition filter must keep pruning (q137's shape,
    // delivered one micro-batch at a time)
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probed buckets must prune the streamed index scan:\n$p")
    assert("HashJoin \\[bucket".r.findFirstIn(p).isDefined,
      s"candidate join must stay keyed on the bucket id:\n$p")
    assert(p.contains("vec_nearest"),
      "probe ranking must use the native literal-centroid expression")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q175: drift audit is one grouped index scan — partial aggs, no join, K-row window") {
    val p = plan("q175_semantic_drift")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"the audit reads the index once, got $scans:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "per-cluster stats must map-side combine before their shuffle")
    assert(!p.contains("Join"), "the audit is a grouped scan, never a join")
    assert(p.contains("Window"),
      "global shares run as a window on the K-row aggregate")
  }

  test("q176: v7 manifest serves from written indexes + checkpoints only — every probe pruned") {
    val (p, checkpoints) = planAndCheckpoints("q176_curation_v7")
    // fingerprint clusters + BM25 postings/terms all prune on their
    // md5 shards; the semantic probe prunes on the touched cluster ids
    assert("PartitionFilters: \\[[^\\]]*shard".r.findAllIn(p).size >= 2,
      s"fingerprint/lexical index scans must stay shard-pruned:\n$p")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      s"semantic index scan must stay cid-pruned:\n$p")
    // day-2 reads: the snapshot rides its checkpoints and the ONLY
    // corpus scan left is the bounded lexical query set (doc_id < 8),
    // read by the BM25 probe's key checkpoint; the embedding corpus
    // never reappears after the build
    assert(p.contains("Scan ExistingRDD"),
      "snapshot probes must come from their checkpoints")
    assert(!p.contains("embeddings.parquet"),
      s"the embedding corpus must not rescan in the served plan:\n$p")
    def docScans(plan: String) =
      plan.linesIterator.filter(_.contains("documents.parquet")).toSeq
    assert(checkpoints.exists(c => docScans(c).nonEmpty &&
        docScans(c).forall(_.contains("LessThan(doc_id,8)"))),
      s"the query set's checkpoint must read the corpus bounded:\n$checkpoints")
    assert(docScans(p).forall(_.contains("LessThan(doc_id,8)")),
      s"every document-corpus scan must carry the doc_id<8 pushdown:\n$p")
    // the lexical serve's 1-row stats crossJoin broadcasts (a
    // BroadcastNestedLoopJoin over one row — q155's allowed shape);
    // nothing may plan an unbroadcast cartesian
    assert(!p.contains("CartesianProduct"),
      s"every manifest join must stay keyed or broadcast:\n$p")
  }

  test("q177: streamed-in BM25 generations keep the q154/q155 pruned serve shape") {
    val p = plan("q177_streaming_bm25_ingest")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findAllIn(p).size >= 2,
      s"the streamed index must still prune postings+terms scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), "term/df probes must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"generation-summed df must stay broadcast-class:\n$p")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must push into the sort")
    assert(!p.contains("CartesianProduct"), "the 1-row stats join must broadcast")
  }

  test("q178: the compacted semantic index serves through q173's pruned-probe shape") {
    val p = plan("q178_semantic_repair")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      s"snapshot cluster ids must prune the repaired index scan:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"only the repaired index may scan, got $scans:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot probe must come from its checkpoint")
    assert("cn#\\d+L? <= 10000".r.findFirstIn(p).isDefined,
      s"cluster-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pair join must stay cid-keyed:\n$p")
  }

  test("q179: mixture derivation tokenizes once; S-row rates broadcast to a narrow admission pass") {
    val p = plan("q179_temperature_mixture")
    // the tokenize pass materializes (localCheckpoint): the mass agg
    // and the admission pass both read the checkpoint — the corpus
    // text is never re-tokenized, and no parquet scan survives
    assert(!p.contains("FileScan parquet"),
      s"both passes must read the checkpointed token frame:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized token frame expected")
    assert(p.contains("BroadcastHashJoin"),
      "the S-row rates frame must broadcast to the admission pass")
    assert(p.contains("partial_sum"),
      "source masses must map-side combine before their shuffle")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may shuffle for a join:\n$p")
  }

  test("q180: streamed-in semantic generations keep q173's pruned-probe shape") {
    val p = plan("q180_streaming_semantic_ingest")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      s"snapshot cluster ids must prune the streamed index scan:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"only the semantic index may scan, got $scans:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      "the snapshot probe must come from its checkpoint")
    assert("cn#\\d+L? <= 10000".r.findFirstIn(p).isDefined,
      s"cluster-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pair join must stay cid-keyed:\n$p")
  }

  test("q181: mixture-packed composition stays checkpoint-driven — broadcast rates, shard window, no corpus rescan") {
    val p = plan("q181_mixture_packed")
    assert(!p.contains("FileScan parquet"),
      s"admission and packing must ride the checkpointed token frame:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized token frame expected")
    assert(p.contains("BroadcastHashJoin"),
      "the S-row rates frame must broadcast to the admission filter")
    assert(p.contains("Window"), "the packing running-sum window expected")
    assert(p.contains("Generate explode"), "sequence spans come from the explode")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may shuffle for a join:\n$p")
  }

  test("q182: mixture drift audit rides one checkpointed token frame — S-row joins broadcast, map-side mass combine") {
    val p = plan("q182_mixture_drift")
    assert(!p.contains("FileScan parquet"),
      s"both mass sides and the flip pass must read the checkpointed token frame:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized token frame expected")
    assert(p.contains("BroadcastHashJoin"),
      "the S-row rates frame must broadcast to the flip pass")
    assert(p.contains("partial_sum"),
      "conditional source masses must map-side combine before their shuffle")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may shuffle for a join:\n$p")
  }

  test("q185: streamed mixture manifest serves from stored counts — no text rescan, broadcast rates") {
    val p = plan("q185_streaming_mixture_ingest")
    // the tokenize happened at ingest; serving reads the materialized
    // count frame and must never touch text again
    assert(!p.contains("FileScan parquet"),
      s"serve must ride the checkpointed stored-count frame:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized count frame expected")
    assert(p.contains("BroadcastHashJoin"),
      "the S-row rates frame must broadcast to the admission pass")
    assert(p.contains("partial_sum"),
      "generation masses must map-side combine before their shuffle")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may shuffle for a join:\n$p")
  }

  test("q186: v8 release — packing and the sequence manifest ride the checkpointed id frame") {
    val p = plan("q186_curation_v8")
    // admission + encode happened before the checkpoint; the packed
    // manifest must never rescan the corpus
    assert(!p.contains("FileScan parquet"),
      s"packing must ride the checkpointed token-id frame:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized id frame expected")
    assert(p.contains("Window"), "the packing running-sum window expected")
    assert(p.contains("Generate posexplode"),
      "token placement comes from the positional explode")
    assert(p.contains("partial_bit_xor"),
      "sequence checksums must partial-aggregate map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may shuffle for a join:\n$p")
  }

  test("q187: percentile gate — NLL pass partial-aggregates, one window, no cartesian") {
    val p = plan("q187_quality_percentile")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the tf aggregation must map-side combine before its shuffle")
    assert(p.contains("Window"), "the per-stratum cume_dist window expected")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row total must broadcast, never cross:\n$p")
  }

  test("q195: approx percentile gate — window-free, sketch aggregate, S-row broadcast") {
    val p = plan("q195_quality_percentile_approx")
    assert(!p.contains("Window"),
      s"the approx gate must not pay a per-source total sort:\n$p")
    assert(p.contains("percentile_approx"),
      "thresholds must come from the GK sketch aggregate")
    assert(p.contains("Scan ExistingRDD"),
      "the scored frame must be materialized once (localCheckpoint)")
    assert(p.contains("BroadcastHashJoin"),
      "the S-row threshold frame must broadcast back")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may shuffle for the admission join:\n$p")
  }

  test("q188: dataset card rides one checkpointed per-doc frame — stratum windows, S-row join") {
    val p = plan("q188_dataset_card")
    assert(!p.contains("FileScan parquet"),
      s"all three aggregations must read the checkpointed per-doc frame:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized per-doc frame expected")
    assert(p.contains("Window"), "the median-pick window expected")
    assert(p.contains("BroadcastHashJoin"),
      "the S-row language-mode frame must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may shuffle for a join:\n$p")
  }

  test("q189: winnow pairs — one codegen fingerprint pass, capped postings, no cartesian") {
    val p = plan("q189_winnow_pairs")
    assert(p.contains("winnow_fp"),
      s"fingerprints must come from the native expression:\n$p")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(p.contains("Generate posexplode") && "slice\\(ds#".r.findFirstIn(p).isDefined,
      s"pair emission must be incremental (posexplode + slice):\n$p")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
  }

  test("q190: incremental winnow probes pruned postings — index-driven, caps intact") {
    val p = plan("q190_winnow_incremental")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the postings scan:\n$p")
    // the snapshot fingerprint pass feeds only the driver-bounded shard
    // collect; the served plan reads the written postings exclusively
    assert(!p.contains("winnow_fp"),
      s"the served plan must be purely index-driven:\n$p")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), "snapshot-id flags must broadcast")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
  }

  test("q191: streamed-in winnow generations keep q190's pruned-probe shape") {
    val p = plan("q191_streaming_winnow_ingest")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the postings scan:\n$p")
    assert(!p.contains("winnow_fp"),
      s"the served plan must be purely index-driven:\n$p")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), "snapshot-id flags must broadcast")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
  }

  test("q219: small-delta winnow probe — shard pruning AND the (blk,h) fingerprint semi prune in the served plan") {
    val p = plan("q219_winnow_small_delta")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot fingerprint shards must prune the postings scan:\n$p")
    assert(!p.contains("winnow_fp"),
      s"the served plan must be purely index-driven:\n$p")
    // the pruned-regime core: pair emission is gated by a LeftSemi join
    // against the delta's own (blk, h) fingerprint set — probe cost
    // tracks the delta's matches, not the touched shards' full content
    // (r21: broadcast EXPLICITLY below Parallelism.BroadcastMaxKeys)
    assert(p.contains("LeftSemi"),
      s"the (blk, h) fingerprint semi prune must gate pair emission:\n$p")
    // r21 EARLY endpoint filter: (base, base) pairs are dropped AT
    // EMISSION via the broadcast __delta flag, before the pair
    // exchange — the fix for the measured 104.9M-raw-pair aggregation
    assert(p.contains("__delta"),
      s"the early snapshot-endpoint filter must gate pair emission:\n$p")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
  }

  test("q217: pointer-swapped bm25 serve keeps the q154 pruned shape through the resolved generation") {
    val p = plan("q217_bm25_pointer_swap")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"query-term shards must prune the repaired generation's scans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "query terms / df / stats must broadcast into the postings scan")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"only the broadcast 1-row stats product is allowed:\n$p")
  }

  test("q220: substring pairs — cap filter present, no cartesian, run merge windows on pair-local keys") {
    val p = plan("q220_substring_pairs")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pairing must be keyed on the window hash, never all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the h-keyed pair join must be a hash/merge join:\n$p")
  }

  test("q221: substring incremental — pruned shards AND the (h) semi prune gate the probe") {
    val p = plan("q221_substring_incremental")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(p).isDefined,
      s"snapshot window shards must prune the postings scan:\n$p")
    assert(p.contains("LeftSemi"),
      s"the (h) window-set semi prune must gate pair emission:\n$p")
    // r21: (base, base) pairs are dropped AT THE PAIR JOIN via the
    // broadcast __delta flag, before the diagonal run merge
    assert(p.contains("__delta"),
      s"the early snapshot-endpoint filter must gate the pair join:\n$p")
    assert("posting_n#\\d+L? <= \\d+".r.findFirstIn(p).isDefined,
      s"posting-size cap filter missing:\n$p")
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
  }

  test("q192: repaired mixture payload serves like q185 — no text rescan, broadcast rates") {
    val p = plan("q192_mixture_repair")
    assert(!p.contains("FileScan parquet"),
      s"serve must ride the checkpointed stored-count frame:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized count frame expected")
    assert(p.contains("BroadcastHashJoin"),
      "the S-row rates frame must broadcast to the admission pass")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing corpus-sized may shuffle for a join:\n$p")
  }

  test("q184: manifest merge — one scan per side, map-side XOR fold, S-row join only") {
    val p = plan("q184_release_manifest")
    // one corpus scan per manifested side (base + delta) and nothing
    // else — the merge itself must never read documents again
    assert("FileScan parquet".r.findAllIn(p).length == 2,
      s"exactly two corpus scans (base + delta) expected:\n$p")
    assert(p.contains("partial_bit_xor") || p.contains("partial_sum"),
      "shard checksums must partial-aggregate map-side before the shuffle")
    // the full-outer merge join runs on two ≤256-row manifest frames —
    // an SMJ there is S-row work; what must NOT appear is a cartesian
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q157: BPE id emission is one pruned corpus scan — no join, no pre-sort shuffle") {
    val p = plan("q157_bpe_ids")
    // training/vocab happen at build time (driver collects); the final
    // plan is the encode itself: one scan of the 40 gated docs, the
    // merge chain + vocab lookup fused in ONE typed mapPartitions
    // (the interpreted-HOF form measured ~20x slower), the id array
    // posexploded — nothing joins, nothing shuffles before the sort
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"encode-to-ids reads the corpus once:\n$p")
    assert(p.contains("LessThan(doc_id,40)"),
      s"the gated-doc prune must reach the scan:\n$p")
    assert(!p.contains("Join"), "the vocab rides as a literal map, not a join")
    assert(p.contains("Generate posexplode"), "id rows come from posexplode")
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"only the output sort may exchange:\n$p")
  }

  test("q164: encode-from-written-tokenizer keeps the q157 shape — the artifact rides as literals, not scans") {
    val p = plan("q164_bpe_tokenizer_index")
    // the tokenizer artifact loads via a BOUNDED driver collect at
    // build time; the encode plan itself is one pruned corpus scan
    // with the merge chain + vocab as closure literals — the written
    // artifact must appear NOWHERE in the serving plan
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"encode-from-artifact reads the corpus once:\n$p")
    assert(p.contains("GreaterThanOrEqual(doc_id,40)") &&
      p.contains("LessThan(doc_id,80)"),
      s"the gated-doc prune must reach the scan:\n$p")
    assert(!p.contains("Join"), "merges+vocab ride as literals, not joins")
    assert(p.contains("Generate posexplode"), "id rows come from posexplode")
    val exchanges = "(?m)^\\s*\\+?-?\\s*Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"only the output sort may exchange:\n$p")
  }

  test("q165: bigram apply joins the materialized model vocabulary-keyed; V broadcasts") {
    val p = plan("q165_bigram_apply")
    // the base-trained cb frame materializes once (localCheckpoint);
    // context counts and V derive from it, the snapshot is the only
    // parquet scan, and nothing corpus-sized cross-joins
    assert(p.contains("Scan ExistingRDD"),
      s"the model frame must be the materialized input:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"only the snapshot may scan parquet:\n$p")
    assert(p.contains("partial_sum"), "model joins must map-side combine")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row V must broadcast")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q166: the day-2 capstone packs checkpointed kept docs — zero parquet scans in the final plan") {
    val p = plan("q166_curation_v6")
    // dedup-survivor + quality stages materialize (localCheckpoint);
    // the final plan is the written-tokenizer encode + packing window
    // over checkpointed rows — neither the base corpus nor any
    // written artifact may rescan here
    assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"),
      s"the ingest tail must read the checkpointed survivors:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized kept frame expected")
    assert(p.contains("Window"), "the packing running-sum window expected")
    assert(p.contains("Generate explode"), "sequence spans come from the explode")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"packing must not join:\n$p")
  }

  test("q167: simhash pairs self-join the checkpointed band frame bucket-keyed — no corpus rescan, no cartesian") {
    val p = plan("q167_simhash_pairs")
    // fingerprints materialize once (localCheckpoint, one narrow
    // mapPartitions pass); bands, the bucket cap, and both join sides
    // derive from the checkpointed longs — text never reappears
    assert(!p.contains("FileScan parquet"),
      s"both join sides must read the checkpointed fingerprints:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized fingerprint frame expected")
    assert(p.contains("Window"), "the bucket-cap count window expected")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the bucket equi-join:\n$p")
  }

  test("q168: incremental simhash probes pruned band shards, snapshot broadcasts, verify on stored longs") {
    val p = plan("q168_simhash_incremental")
    assert("PartitionFilters: \\[[^\\]]*pshard".r.findFirstIn(p).isDefined,
      s"snapshot band shards must prune the index scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "snapshot band rows must broadcast into the probed residue")
    assert(!p.contains("CartesianProduct"),
      s"nothing may cross-join:\n$p")
  }

  test("q169: the model drift audit reads one snapshot scan + the materialized model — no base corpus") {
    val p = plan("q169_bigram_drift")
    // model cb materializes from its written file (localCheckpoint);
    // cl derives from it; the snapshot is the only parquet scan —
    // auditing must never re-read the training corpus
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"only the snapshot may scan parquet:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the model frame must be the materialized input:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "snapshot bigram counts must map-side combine")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q170: materialized packing reads checkpointed ids — one offset window + posexplode, no joins") {
    val p = plan("q170_packed_ids")
    // encode-to-ids materializes (localCheckpoint); the packer is the
    // shard offset window + a narrow posexplode/union — the corpus
    // and the vocabulary never reappear in the final plan
    assert(!p.contains("FileScan parquet"),
      s"packing must read the checkpointed id arrays:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized id frame expected")
    assert(p.contains("Window"), "the packing offset window expected")
    assert(p.contains("Generate posexplode"), "token rows come from posexplode")
    assert(p.contains("Union"), "EOS slots union in, they don't join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing may join:\n$p")
  }

  test("q158: flagship v5 packs checkpointed counts — zero parquet scans, one shard window") {
    val p = plan("q158_curation_v5")
    // all four stages compose off materialized survivors: the final
    // plan is encode counts + the packing window over checkpoints
    assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"),
      s"post-decontam stages must read the checkpointed survivors:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized survivor frame expected")
    assert(p.contains("Window"), "the packing running-sum window expected")
    assert(p.contains("Generate explode"), "sequence spans come from the explode")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"packing must not join:\n$p")
  }

  test("q150: bigram-LM stats all read the ONE materialized bigram frame, V broadcasts") {
    val p = plan("q150_bigram_quality")
    // the corpus bigram explode materializes once (localCheckpoint);
    // model counts, context counts, V, and scoring read it back
    assert(p.contains("Scan ExistingRDD"),
      s"the bigram frame must be the materialized input:\n$p")
    assert(!p.contains("FileScan parquet"),
      s"no stage may re-explode the corpus:\n$p")
    assert(p.contains("partial_sum"), "model counts must map-side combine")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row V must broadcast")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q152: flagship v4 reads encode + rollup off the materialized post-decontam frame") {
    val p = plan("q152_curation_v4")
    // quality filter and decontam materialize their survivors
    // (localCheckpoint); the BPE encode, source join, and rollup in
    // the final plan read only those rows — the q132 composition rule
    assert(!p.contains("Scan parquet"),
      s"post-decontam stages must read the checkpointed survivors:\n$p")
    assert(p.contains("Scan ExistingRDD"), "materialized survivor frame expected")
    assert(p.contains("Generate explode"), "token explode expected")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "token budgets must map-side combine")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }

  test("q132: flagship v3 reads every post-SemDeDup stage off the ONE materialized survivor frame") {
    val p = plan("q132_curation_v3")
    // the SemDeDup survivors' (doc_id, text) frame is localCheckpoint'ed
    // once; the NLL stats, the post-filter join, and the packing scan all
    // read the materialized rows — the final plan must contain ZERO
    // parquet re-scans (the q127 lesson: composition is where double
    // scans hide)
    assert(!p.contains("Scan parquet"),
      s"post-SemDeDup stages must read the checkpointed survivors, not re-scan parquet:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "token/packing aggregates must map-side combine")
    assert(p.contains("Generate explode"), "sequence spans must explode, not self-join")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
  }
}
