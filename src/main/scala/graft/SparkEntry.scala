package graft

import graft.ann.Ann
import graft.pipeline.GraftJob
import graft.spatial.cell.{functions => F}
import graft.spatial.join.SpatialJoin
import graft.text.{Dedup, TextAnalysis}
import graft.tiles.{ImageTable, Tiles}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7): one `queries` entry per implemented
  * operator from SURVEY.md §2, with DuckDB-equivalent `oracleSql` wherever
  * the semantics are ANSI-SQL-expressible. Numeric outputs are integers or
  * exact decimals wherever floating-point accumulation order could differ
  * between engines (per-row double math is IEEE-identical; only aggregation
  * order isn't — so doubles are cast to decimals per-row before summing).
  *
  * Naming: q* relational/spatial over driver tables; d* documents; e*
  * embeddings; p* PBF/graft-native (oracle-omitted: DuckDB cannot read
  * .osm.pbf / run ray-cast PIP; their gate is the ScalaTest suites).
  */
object SparkEntry {
  import EntryFixtures._

  /** Flagship: the graft job (images × OSM polygons → tile stats) at
    * sf0.001 scale. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    GraftJob.run(images(spark, sfDir), polygons(spark, sfDir), z = 10, res = 12)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----------------------------------------------------- relational core
    "q1_agg" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("decimal(28,4)").cast("string").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_join_agg" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("total"))
        .orderBy("n_name")
    }),
    "q3_filter" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .where(col("l_discount") >= 0.05 && col("l_quantity") < 10.0 &&
          col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
    }),
    "q4_topk_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      table(s, dir, "orders")
        .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("c_mktsegment"), col("rnk"), col("o_orderkey"))
    }),
    "q5_semi_anti" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      val urgent = o.where(col("o_orderpriority") === "1-URGENT")
      withOrders.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    }),
    "q6_distinct_agg" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          max(col("l_shipdate")).cast("date").cast("string").as("last_ship"))
        .orderBy("l_returnflag")
    }),
    // ------------------------------------------------------- spatial (C11+)
    "q7_cell_encode" -> ((s, dir) => {
      lineitemPoints(s, dir)
        .withColumn("cell", F.cell_of(col("lon"), col("lat"), 8))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
    }),
    "q8_bbox_filter" -> ((s, dir) => {
      lineitemPoints(s, dir)
        .where(col("lon").between(-60.0, 60.0) && col("lat").between(-30.0, 30.0))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    }),
    "q9_tile_assign" -> ((s, dir) => {
      Tiles.assignPoints(lineitemPoints(s, dir), 6)
        .groupBy(col("tile"), col("tile_z"), col("tile_x"), col("tile_y"))
        .agg(count(lit(1)).as("n"))
    }),
    "q10_pip_rect" -> ((s, dir) => {
      // the real cell-join + ray-cast PIP operator; oracle reduces to bbox
      // containment because the polygons are axis-aligned rectangles
      SpatialJoin.pipJoin(lineitemPoints(s, dir).select("l_orderkey", "l_linenumber", "lon", "lat"),
          nationRectPolys(s, dir), res = 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("poly_id").as("rect_id"))
    }),
    "q11_knn" -> ((s, dir) => {
      // distinct coordinates with a coordinate-derived id (lineitem keys are
      // not unique, which would make per-point kNN ill-defined)
      val pts = lineitemPoints(s, dir)
        .select("lon", "lat").distinct()
        .withColumn("pt_id", concat(round(col("lon") * 1000).cast("long"),
          lit("_"), round(col("lat") * 1000).cast("long")))
      SpatialJoin.knnJoin(pts, partPois(s, dir), k = 2)
        .select(col("pt_id"), col("poi_id"), col("rank"))
    }),
    "q12_zorder_sort" -> ((s, dir) => {
      // range partition by cell prefix, then emit per-partition cell spans —
      // verifies the partitioner produces contiguous, ordered z-ranges
      val pts = Tiles.assignPoints(lineitemPoints(s, dir), 8)
      SpatialJoin.repartitionByCellPrefix(pts, "tile", 8)
        .groupBy("tile").agg(count(lit(1)).as("n"))
    }),
    // ------------------------------------------------------ events / window
    "q13_event_window" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("string").as("total_value"))
        .select(unix_timestamp(col("w.start")).as("window_start"), col("event_type"),
          col("n"), col("total_value"))
    }),
    "q14_running_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      table(s, dir, "events")
        .withColumn("seq", row_number().over(w))
        .where(col("seq") <= 5)
        .select(col("user_id"), col("seq"), col("event_id"))
    }),
    "q15_stream_window" -> ((s, dir) => {
      // Structured Streaming over the same events parquet (AvailableNow
      // batch-replay); result must equal the batch q13 aggregation
      val schema = table(s, dir, "events").schema
      // the streaming file source needs a directory: stream the sf dir
      // itself with a glob that admits only the events table — pure Hadoop
      // FS API, no local-filesystem symlink assumption
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
      val agg = stream
        .withColumn("ts", col("ts").cast("timestamp")) // parquet NTZ → event-time
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("window_start"), col("event_type"), col("n"))
      val qname = s"stream_q15_${System.nanoTime()}"
      val q = agg.writeStream.outputMode("complete").format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qname)
    }),
    "q17_stream_dedup" -> ((s, dir) => {
      // custom-state streaming (flatMapGroupsWithState): first-seen dedup
      // over the documents stream; emitted set = DISTINCT fingerprints,
      // deterministic under any partitioning/batch order
      val schema = table(s, dir, "documents").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val out = graft.streaming.StreamingDedup.firstSeen(stream)
      val qname = s"stream_q17_${System.nanoTime()}"
      val q = out.writeStream.outputMode("append").format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qname).select(col("fingerprint"), col("n_tokens").cast("long").as("n_tokens"))
    }),
    // ---------------------------------------------------------- documents
    "d1_exact_dedup" -> ((s, dir) => {
      Dedup.exact(table(s, dir, "documents"))
    }),
    "d2_text_quality" -> ((s, dir) => {
      TextAnalysis.qualityFeatures(table(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("punct_count"), col("stopword_count"))
    }),
    "d3_langid" -> ((s, dir) => {
      TextAnalysis.langId(table(s, dir, "documents"))
        .select(col("doc_id"), col("score_en"), col("score_de"), col("score_fr"), col("lang_pred"))
    }),
    "d4_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprint(table(s, dir, "documents"))
        .select(col("doc_id"), col("fingerprint"), col("fingerprint16"))
    }),
    "d9_clean_corpus" -> ((s, dir) => {
      // the composed cleaning pipeline: dedup → quality → langid → filter
      TextAnalysis.cleanCorpus(table(s, dir, "documents"),
        lang = "en", minTokens = 3, maxTokens = 5000, minQuality = 0.5)
    }),
    "d8_bpe_tokens" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
    }),
    "d10_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(table(s, dir, "documents"))
        .select("doc_id", "n_words", "n_3grams", "n_distinct_3grams", "top_word_count")
    }),
    "d11_pii_redact" -> ((s, dir) => {
      TextAnalysis.piiRedact(table(s, dir, "documents"))
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          md5(col("redacted")).as("redacted_md5"))
    }),
    "d12_dup_components" -> ((s, dir) => {
      // duplicate CLUSTERS from pair edges. Edge set: length-blocking (a
      // real dedup candidate heuristic — docs with equal whitespace token
      // counts), chained by consecutive doc_id inside each block, so the
      // graph has multi-hop chains (worst-case diameter for propagation).
      // Connected components labels each doc with its canonical min id.
      val fp = table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("f"))
      val w = Window.partitionBy("f").orderBy("doc_id")
      val edges = fp.withColumn("nxt", lead("doc_id", 1).over(w))
        .where(col("nxt").isNotNull)
        .select(col("doc_id").as("a_id"), col("nxt").as("b_id"))
      graft.text.Components.connectedComponents(edges)
        .select(col("id").as("doc_id"), col("component"))
    }),
    "d5_minhash_lsh" -> ((s, dir) => {
      // oracle-omitted (signature hashing not ANSI-SQL-expressible).
      // Each candidate carries BOTH the signature estimate and the exact
      // n-gram Jaccard (the standard LSH → verify pipeline), so the dump
      // is value-auditable even without an oracle.
      val docs = table(s, dir, "documents")
      // localCheckpoint: `cands` (≤ a few hundred pair rows — candidate
      // sets are tiny by construction) is consumed TWICE below (the
      // verify join's pair list AND the payload join); without it the
      // whole signature → band → bucket-join pipeline is instantiated
      // twice in one plan (round-6 plan audit: 36 parquet scans)
      val cands = Dedup.minhashLsh(docs, threshold = 0.5).localCheckpoint()
      Dedup.ngramJaccard(cands.select("a_id", "b_id"), docs)
        .withColumnRenamed("jaccard", "exact_jaccard")
        .join(cands, Seq("a_id", "b_id"))
    }),
    "d6_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(table(s, dir, "documents").limit(2000), maxHamming = 3)
    }),
    "d7_ngram_jaccard" -> ((s, dir) => {
      // deterministic pair set (all pairs of the first 40 docs) so DuckDB
      // can replicate it — the LSH-candidate flow is exercised by DedupSpec
      val docs = table(s, dir, "documents").where(col("doc_id") < 40)
      val ids = docs.select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("a_id"))
        .join(ids.select(col("doc_id").as("b_id")), col("a_id") < col("b_id"))
      Dedup.ngramJaccard(pairs, docs).select("a_id", "b_id", "jaccard")
    }),
    // --------------------------------------------------------- embeddings
    "e1_ann_brute" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Ann.bruteForceTopK(queries, corpus, k = 5)
        .select("q_id", "c_id", "rank")
    }),
    "e2_ann_lsh" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val k = 5
      // wide-probe parameters: the sf tables hold near-uniform random
      // vectors (no planted clusters), where narrow LSH buckets are
      // information-theoretically recall-poor — short hashes + more tables
      // trade candidate volume for recall, the knob a real corpus tunes to
      // its own geometry (AnnSpec gates the narrow-bucket scale behavior).
      // NOTE: at this corpus size the wide probe + the brute-force ground
      // truth below cost MORE than exact search — e2's bench wall measures
      // the LSH plumbing and its self-certification, not ANN speedup
      // (which only exists when buckets are narrow relative to the corpus)
      val lsh = Ann.lshTopK(queries, corpus, k, nPlanes = 2, nTables = 8)
      // self-certifying value signal: the query stays no_oracle (signature
      // hashing isn't ANSI-SQL-expressible), but each row carries its
      // query's recall against exact brute force plus the ≥0.8 verdict —
      // a driver reading any row sees the quality invariant, not just a
      // row count
      val brute = Ann.bruteForceTopK(queries, corpus, k)
      val hits = lsh.select("q_id", "c_id")
        .join(brute.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("_hits"))
      lsh.join(hits, Seq("q_id"), "left")
        .withColumn("recall_vs_brute", coalesce(col("_hits"), lit(0L)) / lit(k.toDouble))
        .withColumn("recall_ok", col("recall_vs_brute") >= 0.8)
        .select("q_id", "c_id", "rank", "recall_vs_brute", "recall_ok")
    }),
    "e4_ann_ivf" -> ((s, dir) => {
      // full-probe mode (nProbe = nCells): candidate set = whole corpus, so
      // the IVF plumbing (training, cell assignment, probe join, rerank)
      // must reproduce exact brute-force results — DuckDB-checkable. The
      // approximate scale mode (nProbe < nCells) is gated by AnnSpec recall.
      val emb = table(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Ann.ivfTopK(queries, corpus, k = 5, nCells = 8, nProbe = 8, iters = 2)
        .select("q_id", "c_id", "rank")
    }),
    "e3_near_dup" -> ((s, dir) => {
      // planted duplicates: corpus ∪ (corpus shifted by 10^6) — every
      // vector pairs with its clone at cosine 1.0. Deterministic subset
      // (vec_id, not limit) so the DuckDB brute-force oracle sees the
      // same input; the 0.999 threshold sits far from any non-clone pair.
      val emb = table(s, dir, "embeddings").where(col("vec_id") < 1000)
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val planted = corpus.unionByName(
        corpus.withColumn("c_id", col("c_id") + 1000000L))
      Ann.nearDuplicatePairs(planted, threshold = 0.999)
        .select("a_id", "b_id")
    }),
    "q16_bbox_aggregator" -> ((s, dir) => {
      // typed Aggregator (A4 par_map_reduce analog): one-pass bbox fold
      import s.implicits._
      lineitemPoints(s, dir).select("lon", "lat").as[(Double, Double)]
        .select(graft.osmpbf.source.OsmAggregators.bboxAgg.toColumn)
        .select(col("minLon").as("min_lon"), col("minLat").as("min_lat"),
          col("maxLon").as("max_lon"), col("maxLat").as("max_lat"), col("n"))
    }),
    // -------------------------------------------------- multimodal columns
    "m1_image_features" -> ((s, dir) => {
      graft.tiles.Multimodal.imageFeatures(images(s, dir).limit(2000))
        .select("image_id", "decoded_w", "decoded_h", "dims_ok")
    }),
    "m2_image_resize" -> ((s, dir) => {
      graft.tiles.Multimodal.resize(images(s, dir).limit(500), 8, 8)
        .select(col("image_id"), length(col("bytes")).as("png_len"), col("w"), col("h"))
        // self-certifying (e2 pattern): requested dims + a real re-encoded PNG
        .withColumn("ok", col("w") === 8 && col("h") === 8 && col("png_len") > lit(8L))
    }),
    "m3_audio_features_stub" -> ((s, dir) => {
      val media = images(s, dir).limit(1000)
        .select(col("image_id").as("media_id"), col("bytes"))
      graft.tiles.Multimodal.audioFeatures(media, windows = 8)
        .select(col("media_id"), col("zero_crossings"))
    }),
    "m6_video_avi" -> ((s, dir) => {
      // REAL video frame sampling: MPNG AVI fixtures synthesized on
      // executors, container-walked + per-frame PNG-decoded by graft code
      import s.implicits._
      val media = s.range(0, 200).map { i =>
        (f"vid_$i%06d", graft.tiles.Avi.synth(i, nFrames = 24))
      }.toDF("media_id", "bytes")
      graft.tiles.Multimodal.videoFrameSample(media, everyK = 6, frames = 24)
        .where(col("real_decode"))
        .select(col("media_id"), size(col("frame_idx")).as("n_sampled"))
        // generator invariant: 24 frames sampled every 6th = exactly 4
        .withColumn("ok", col("n_sampled") === 4)
    }),
    "m5_audio_wav" -> ((s, dir) => {
      // REAL audio decode: deterministic RIFF/WAVE PCM fixtures synthesized
      // on executors, decoded by graft.tiles.Wav (no codec library needed)
      import s.implicits._
      val media = s.range(0, 500).map { i =>
        (f"aud_$i%06d", graft.tiles.Wav.synth(i))
      }.toDF("media_id", "bytes")
      graft.tiles.Multimodal.audioFeatures(media, windows = 8)
        .where(col("real_decode"))
        .select(col("media_id"), col("zero_crossings"), col("sample_rate"), col("n_samples"))
        // generator invariants (Wav.synth): 16 kHz, 4096 samples, a real
        // oscillating signal (WavSpec holds the exact-tolerance ZC gates)
        .withColumn("ok", col("sample_rate") === 16000 && col("n_samples") === 4096L &&
          col("zero_crossings") > 0L)
    }),
    "m4_video_frames_stub" -> ((s, dir) => {
      val media = images(s, dir).limit(1000)
        .select(col("image_id").as("media_id"), col("bytes"))
      graft.tiles.Multimodal.videoFrameSample(media, everyK = 20, frames = 100)
        .select(col("media_id"), size(col("frame_idx")).as("n_frames"))
    }),
    // ------------------------------------------------- PBF / graft native
    // p1–p4 are `no_oracle` to the driver (DuckDB cannot read .osm.pbf),
    // so each row is made self-certifying (the e2 pattern) via [[selfCert]]:
    // a full outer join against the fixture generator's ground truth adds
    // the expected values and a per-row `ok` verdict. On a correct run both
    // key sets match, so row counts equal the plain query and the driver's
    // rows check stays stable.
    "p1_pbf_counts" -> ((s, dir) => {
      val (path, _) = world(dir)
      selfCert(graft.osmpbf.source.OsmPbf.countElements(s, path),
        p1Truth(s, dir), Seq("kind"),
        col("count") === col("expected"))
    }),
    "p2_pbf_tag_filter" -> ((s, dir) => {
      val (path, _) = world(dir)
      selfCert(
        graft.osmpbf.source.OsmPbf.nodes(s, path).toDF()
          .where(map_contains_key(col("tags"), "amenity"))
          .select(col("id"), element_at(col("tags"), "name").as("name"),
            col("lat_nd"), col("lon_nd")),
        p2Truth(s, dir), Seq("id"),
        // <=> (null-safe) for name: an amenity node legitimately without a
        // "name" tag is null on BOTH sides — plain === would yield null and
        // the coalesce would mark a byte-perfect decode not-ok
        col("name") <=> col("exp_name") &&
          col("lat_nd") === col("exp_lat_nd") &&
          col("lon_nd") === col("exp_lon_nd"),
        dropCols = Seq("exp_name", "exp_lat_nd", "exp_lon_nd"))
    }),
    "p3_way_assembly" -> ((s, dir) => {
      val (nodes, ways, _) = osmTables(s, dir)
      selfCert(
        graft.spatial.geom.Assembly.wayGeometries(nodes, ways)
          .select(col("id"), size(col("pts")).as("n_pts"), col("closed")),
        p3Truth(s, dir), Seq("id"),
        col("n_pts") === col("exp_n_pts") && col("closed") === col("exp_closed"),
        dropCols = Seq("exp_n_pts", "exp_closed"))
    }),
    "p4_polygons" -> ((s, dir) => {
      selfCert(
        polygons(s, dir).select(col("src"), col("id"), size(col("rings")).as("n_rings"),
          col("bbox.min_lon"), col("bbox.max_lat")),
        p4Truth(s, dir), Seq("src", "id"),
        col("n_rings") === col("exp_n_rings") &&
          col("min_lon") === col("exp_min_lon") &&
          col("max_lat") === col("exp_max_lat"),
        dropCols = Seq("exp_n_rings", "exp_min_lon", "exp_max_lat"))
    }),
    "p5_graft_join" -> ((s, dir) => {
      GraftJob.joinRows(images(s, dir), polygons(s, dir), z = 10, res = 12)
    }),
    "p6_graft_tiles" -> ((s, dir) => {
      GraftJob.run(images(s, dir), polygons(s, dir), z = 10, res = 12)
    }),
    "p8_blob_stats" -> ((s, dir) => {
      val (path, _) = world(dir)
      graft.osmpbf.source.OsmStats.blobStats(s, path)
        .select("blob_type", "data_size", "node_count", "way_count", "relation_count")
    }),
    "p9_way_node_deps" -> ((s, dir) => {
      val (path, _) = world(dir)
      graft.osmpbf.source.OsmStats.nodesReferencedByWays(s, path).select("id", "lat_nd", "lon_nd")
    }),
    "p10_stream_graft" -> ((s, dir) => {
      // streaming graft: the images fixture replayed as a file stream
      // (several micro-batches) × static polygons via foreachBatch
      // incremental tile deltas; the returned rollup merges them.
      // StreamingGraftSpec proves rollup ≡ batch job + retry idempotence;
      // rows here = tiles with ≥1 image (same population as p6)
      val path = imagesPath(s, dir)
      val schema = images(s, dir).schema
      val out = java.nio.file.Files.createTempDirectory("graft-p10").toString
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(path)
      // Round-6: materialize the STATIC side once for the stream's
      // lifetime — foreachBatch re-evaluates the static plan on every
      // micro-batch, so an un-materialized polygon table pays a full
      // PBF-decode + geometry assembly per batch. Scoped, not a session
      // cache (that was tried: single-evaluation polygon consumers paid
      // ~+0.4 s columnar-cache overhead for nothing); the checkpoint
      // blocks are freed as soon as the stream drains — the returned
      // rollup reads only the written deltas.
      val ckpt = new graft.util.CheckpointTracker(s)
      val polys = ckpt.track(polygons(s, dir).localCheckpoint())
      try {
        val q = graft.streaming.StreamingGraft.run(
          stream, polys, s"$out/delta", s"$out/ckpt", z = 10, res = 12)
        q.awaitTermination()
      } finally ckpt.freeAllExcept(Set.empty[Int])
      graft.streaming.StreamingGraft.rollup(s, s"$out/delta")
    }),
    "p7_image_parity" -> ((s, dir) => {
      val (_, w) = world(dir)
      ImageTable.parity(images(s, dir).limit(500), w.clusterCenters)
        .where(col("psnr_db") >= 40.0 && col("caption_ok") && col("phash_ok"))
    })
  )

  /** Self-certification wrapper for `no_oracle` queries: full outer join
    * of the actual output against fixture ground truth plus a per-row `ok`
    * verdict. FULL, not left: a row the engine silently DROPPED still
    * surfaces (truth-only → actual columns NULL → `okExpr` yields NULL →
    * coalesce false); a left join from the actual side cannot see absence.
    * Fabricated extras surface symmetrically (expected columns NULL). No
    * broadcast hint: Spark cannot broadcast a full outer join, and the
    * truth sides are tiny. EntrySelfCertSpec drives the dropped-row and
    * extra-row paths directly. */
  private[graft] def selfCert(actual: DataFrame, truth: DataFrame,
      keys: Seq[String], okExpr: Column, dropCols: Seq[String] = Nil): DataFrame =
    actual.join(truth, keys, "full")
      .withColumn("ok", coalesce(okExpr, lit(false)))
      .drop(dropCols: _*)

  /** DuckDB-runnable equivalents (same column names; sorted-by-name hash
    * compare). Entries absent here are rows-only checked by the driver. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS VARCHAR) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_filter" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty
        |FROM lineitem
        |WHERE l_discount >= 0.05 AND l_quantity < 10.0 AND l_returnflag = 'R'""".stripMargin,
    "q4_topk_window" ->
      """SELECT c_mktsegment, rnk, o_orderkey FROM (
        |  SELECT c_mktsegment, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rnk <= 3""".stripMargin,
    "q5_semi_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin,
    "q6_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR) AS last_ship
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_cell_encode" ->
      s"""SELECT ${EntryFixtures.cellSql("lon", "lat", 8)} AS cell, COUNT(*) AS n
         |FROM (${EntryFixtures.lineitemPointsSql}) GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin,
    "q8_bbox_filter" ->
      s"""SELECT l_returnflag, COUNT(*) AS n
         |FROM (${EntryFixtures.lineitemPointsSql})
         |WHERE lon BETWEEN -60.0 AND 60.0 AND lat BETWEEN -30.0 AND 30.0
         |GROUP BY 1""".stripMargin,
    "q9_tile_assign" ->
      s"""SELECT ${EntryFixtures.cellSql("lon", "lat", 6)} AS tile,
         |  6 AS tile_z,
         |  CAST(LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 64), 0), 63) AS INT) AS tile_x,
         |  CAST(LEAST(GREATEST(FLOOR((90.0 - lat) / 180.0 * 64), 0), 63) AS INT) AS tile_y,
         |  COUNT(*) AS n
         |FROM (${EntryFixtures.lineitemPointsSql}) GROUP BY 1, 2, 3, 4""".stripMargin,
    "q10_pip_rect" ->
      s"""SELECT l_orderkey, l_linenumber, rect_id
         |FROM (${EntryFixtures.lineitemPointsSql}) p
         |JOIN (${EntryFixtures.nationRectsSql}) r
         |  ON p.lon > r.min_lon AND p.lon < r.max_lon
         | AND p.lat > r.min_lat AND p.lat < r.max_lat""".stripMargin,
    "q11_knn" ->
      s"""SELECT pt_id, poi_id, rank FROM (
         |  SELECT p.pt_id, r.poi_id,
         |    ROW_NUMBER() OVER (PARTITION BY p.pt_id ORDER BY
         |      2 * 6371000.0 * ASIN(LEAST(1.0, SQRT(
         |        SIN(RADIANS(r.poi_lat - p.lat) / 2) * SIN(RADIANS(r.poi_lat - p.lat) / 2) +
         |        COS(RADIANS(p.lat)) * COS(RADIANS(r.poi_lat)) *
         |        SIN(RADIANS(r.poi_lon - p.lon) / 2) * SIN(RADIANS(r.poi_lon - p.lon) / 2)))), r.poi_id) AS rank
         |  FROM (SELECT CAST(round(lon * 1000) AS BIGINT) || '_' || CAST(round(lat * 1000) AS BIGINT) AS pt_id, lon, lat
         |        FROM (SELECT DISTINCT lon, lat FROM (${EntryFixtures.lineitemPointsSql}))) p
         |  CROSS JOIN (${EntryFixtures.partPoisSql}) r) t
         |WHERE rank <= 2""".stripMargin,
    "q12_zorder_sort" ->
      s"""WITH pts AS (${EntryFixtures.lineitemPointsSql}),
         |tiles AS (SELECT ${EntryFixtures.cellSql("lon", "lat", 8)} AS tile FROM pts)
         |SELECT tile, COUNT(*) AS n FROM tiles GROUP BY 1""".stripMargin,
    "q13_event_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q14_running_window" ->
      """SELECT user_id, seq, event_id FROM (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        |  FROM events) t WHERE seq <= 5""".stripMargin,
    "q15_stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q17_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS fingerprint,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT doc_id, md5(text) AS fingerprint,
        |  CASE WHEN text IS NULL THEN doc_id
        |       ELSE MIN(doc_id) OVER (PARTITION BY md5(text)) END AS canonical_id,
        |  CASE WHEN text IS NULL THEN CAST(1 AS BIGINT)
        |       ELSE COUNT(*) OVER (PARTITION BY md5(text)) END AS group_size,
        |  doc_id <> CASE WHEN text IS NULL THEN doc_id
        |       ELSE MIN(doc_id) OVER (PARTITION BY md5(text)) END AS is_duplicate
        |FROM documents""".stripMargin,
    "d2_text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST((length(text) - length(replace(text, '.', ''))) +
        |       (length(text) - length(replace(text, ',', ''))) +
        |       (length(text) - length(replace(text, '!', ''))) +
        |       (length(text) - length(replace(text, '?', ''))) AS BIGINT) AS punct_count,
        |  CAST((length(pt) - length(replace(pt, ' the ', ''))) / 5 +
        |       (length(pt) - length(replace(pt, ' a ', ''))) / 3 +
        |       (length(pt) - length(replace(pt, ' and ', ''))) / 5 +
        |       (length(pt) - length(replace(pt, ' of ', ''))) / 4 AS BIGINT) AS stopword_count
        |FROM (SELECT *, ' ' || lower(text) || ' ' AS pt FROM documents)""".stripMargin,
    "d3_langid" -> langIdSql,
    "d4_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  substring(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fingerprint16
        |FROM documents""".stripMargin,
    "q16_bbox_aggregator" ->
      s"""SELECT MIN(lon) AS min_lon, MIN(lat) AS min_lat,
         |  MAX(lon) AS max_lon, MAX(lat) AS max_lat, COUNT(*) AS n
         |FROM (${EntryFixtures.lineitemPointsSql})""".stripMargin,
    "e1_ann_brute" ->
      """SELECT q_id, c_id, rank FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q CROSS JOIN embeddings c
        |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id) t
        |WHERE rank <= 5""".stripMargin,
    // composition of the d1/d2/d3 oracle shapes: dedup window + quality
    // arithmetic + langid argmax, then the same filters the Spark plan runs
    "d9_clean_corpus" -> cleanCorpusSql,
    // same lookahead-free pattern evaluated by RE2; '' escapes the quote
    "d8_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "d10_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, len(w) AS n_words,
        |    CASE WHEN len(w) >= 3 THEN
        |      list_transform(range(1, len(w) - 1),
        |        i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS grams,
        |    w[1:500] AS wc
        |  FROM base
        |)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(len(grams) AS BIGINT) AS n_3grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_3grams,
        |  CAST(coalesce(list_max(list_transform(list_distinct(wc),
        |    x -> len(list_filter(wc, y -> y = x)))), 0) AS BIGINT) AS top_word_count
        |FROM g""".stripMargin,
    "d11_pii_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
        |FROM documents""".stripMargin,
    "d12_dup_components" ->
      """WITH RECURSIVE fp AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS f FROM documents
        |), c AS (
        |  SELECT doc_id, lead(doc_id) OVER (PARTITION BY f ORDER BY doc_id) AS nxt FROM fp
        |), e AS (
        |  SELECT doc_id AS a, nxt AS b FROM c WHERE nxt IS NOT NULL
        |), sym AS (
        |  SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e
        |), reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM sym
        |  UNION
        |  SELECT sym.s, reach.r FROM sym JOIN reach ON sym.d = reach.id
        |)
        |SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id""".stripMargin,
    // full-probe IVF ≡ exhaustive search (same SQL ground truth as e1)
    "e4_ann_ivf" ->
      """SELECT q_id, c_id, rank FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q CROSS JOIN embeddings c
        |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id) t
        |WHERE rank <= 5""".stripMargin,
    // word-trigram sets as space-joined strings (injective: words contain no
    // whitespace); list_intersect/list_distinct give set semantics matching
    // the Scala Set[Seq[String]] in Dedup.ngramJaccard
    "d7_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents WHERE doc_id < 40
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) = 0 THEN []::VARCHAR[]
        |         WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS grams
        |  FROM d)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 1.0
        |       ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |            / len(list_distinct(list_concat(a.grams, b.grams))) END AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id""".stripMargin,
    // brute-force ground truth for the LSH screen: planted clones sit at
    // cosine ~1.0 and every other pair far below 0.999, so the approximate
    // candidate generation must agree exactly with exhaustive search here
    "e3_near_dup" ->
      """WITH c AS (
        |  SELECT vec_id AS c_id, embedding FROM embeddings WHERE vec_id < 1000),
        |p AS (
        |  SELECT * FROM c
        |  UNION ALL SELECT c_id + 1000000 AS c_id, embedding FROM c)
        |SELECT a.c_id AS a_id, b.c_id AS b_id
        |FROM p a JOIN p b ON a.c_id < b.c_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999""".stripMargin
  )

  private def cleanCorpusSql: String = {
    def cnt(w: String): String =
      s"(length(t) - length(replace(t, ' $w ', ''))) / ${w.length + 2}"
    def score(words: Seq[String]): String = words.map(cnt).mkString(" + ")
    val en = score(Seq("the", "and", "of", "is", "with"))
    val de = score(Seq("der", "die", "und", "ist", "mit"))
    val fr = score(Seq("le", "la", "et", "est", "avec"))
    s"""WITH canon AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY md5(text)) AS _c
       |    FROM documents)
       |  WHERE doc_id = _c),
       |f AS (
       |  SELECT doc_id, text, ' ' || lower(text) || ' ' AS t,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM canon),
       |g AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens AS mwl,
       |    CAST((length(t) - length(replace(t, ' the ', ''))) / 5 +
       |         (length(t) - length(replace(t, ' a ', ''))) / 3 +
       |         (length(t) - length(replace(t, ' and ', ''))) / 5 +
       |         (length(t) - length(replace(t, ' of ', ''))) / 4 AS BIGINT) AS sw,
       |    COALESCE($en, 0) AS s_en, COALESCE($de, 0) AS s_de, COALESCE($fr, 0) AS s_fr
       |  FROM f),
       |g2 AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN GREATEST(s_en, s_de, s_fr) = 0 THEN 'und'
       |         WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
       |         WHEN s_de >= s_fr THEN 'de'
       |         ELSE 'fr' END AS lang_pred,
       |    LEAST(1.0,
       |      LEAST(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.4 +
       |      LEAST(CAST(sw AS DOUBLE) / n_tokens * 8.0, 1.0) * 0.4 +
       |      CASE WHEN mwl BETWEEN 3.0 AND 9.0 THEN 0.2 ELSE 0.0 END) AS quality_score
       |  FROM g)
       |SELECT doc_id, lang_pred, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
       |FROM g2
       |WHERE lang_pred = 'en' AND n_tokens BETWEEN 3 AND 5000 AND quality_score >= 0.5""".stripMargin
  }

  private def langIdSql: String = {
    def cnt(w: String): String =
      s"(length(t) - length(replace(t, ' $w ', ''))) / ${w.length + 2}"
    def score(words: Seq[String]): String = words.map(cnt).mkString(" + ")
    val en = score(Seq("the", "and", "of", "is", "with"))
    val de = score(Seq("der", "die", "und", "ist", "mit"))
    val fr = score(Seq("le", "la", "et", "est", "avec"))
    // COALESCE mirrors the Spark side: null text must score 0 → 'und',
    // never slide past the CASE arms into the 'fr' fallback
    s"""SELECT doc_id,
       |  CAST(COALESCE($en, 0) AS BIGINT) AS score_en,
       |  CAST(COALESCE($de, 0) AS BIGINT) AS score_de,
       |  CAST(COALESCE($fr, 0) AS BIGINT) AS score_fr,
       |  CASE WHEN GREATEST(COALESCE($en, 0), COALESCE($de, 0), COALESCE($fr, 0)) = 0 THEN 'und'
       |       WHEN COALESCE($en, 0) >= COALESCE($de, 0) AND COALESCE($en, 0) >= COALESCE($fr, 0) THEN 'en'
       |       WHEN COALESCE($de, 0) >= COALESCE($fr, 0) THEN 'de'
       |       ELSE 'fr' END AS lang_pred
       |FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents)""".stripMargin
  }
}
