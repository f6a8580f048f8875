package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.{Ivf, Pq, Similarity}
import graft.sim.Similarity._

/**
 * Verify-gate queries for similarity search over `embeddings`. Oracles
 * recompute the identical left-fold double arithmetic (same element order,
 * same casts) so cosine values match bit-for-bit across engines.
 *
 * The normed corpus (and the IVF routing index) are materialized once per
 * (session, dir) via [[Tables]] — the stored-column design at scale.
 */
object SimQueries {

  private val DIM = 64
  private val K = 10
  private val NLIST = 16
  private val NPROBE = 4

  private def queryRow(df: DataFrame): DataFrame = df.filter(col("vec_id") === 0)

  private def x1e6(df: DataFrame): DataFrame =
    df.withColumn("cos_x1e6", floor(col("cos") * lit(1000000.0)).cast("long")).drop("cos")

  // sampled-codebook IVF index, built once per (session, dir) — the index
  // is a stored artifact in a real deployment
  private def ivf(s: SparkSession, dir: String): Ivf.IvfIndex =
    graft.util.Memo(s, dir, "SimQueries.ivf")(Ivf.buildSampled(Tables.emb(s, dir), NLIST))

  // sampled-codebook PQ code table, built once per (session, dir)
  private def pq(s: SparkSession, dir: String): Pq.PqIndex =
    graft.util.Memo(s, dir, "SimQueries.pq")(Pq.buildSampled(Tables.emb(s, dir)))

  // SQ8 range table (d-row driver-side stats) + code table, built once
  // per (session, dir) — stored artifacts in a real deployment
  private def sq(s: SparkSession, dir: String): (graft.sim.Sq.SqIndex, DataFrame) =
    graft.util.Memo(s, dir, "SimQueries.sq") {
      val idx = graft.sim.Sq.build(Tables.emb(s, dir), DIM)
      (idx, graft.sim.Sq.codes(Tables.emb(s, dir), idx).localCheckpoint())
    }

  // kNN edge table (top-3 LSH-candidate neighbors of every vector),
  // built once per (session, dir) — shared by the graph dump and the
  // seed-expansion BFS
  private def knn(s: SparkSession, dir: String): DataFrame =
    graft.util.Memo(s, dir, "SimQueries.knn")(
      Similarity.knnGraphFromNormed(Tables.normedEmb(s, dir), 3).localCheckpoint())

  /** The kNN graph as canonical UNDIRECTED pairs (a < b) plus its
    * doubled adjacency — shared by the two link predictors so their
    * graph construction can never drift. */
  private def knnPairsAdj(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pairs = knn(s, dir)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val adj = pairs.select(col("a").as("u"), col("b").as("x"))
      .union(pairs.select(col("b").as("u"), col("a").as("x")))
    (pairs, adj)
  }

  /** IVF-routed PQ ADC top-k (shared by `sim_topk_ivfpq` and `sim_recall`). */
  private def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val ivfIdx = ivf(s, dir)
    val qdf = queryRow(Tables.emb(s, dir))
    val qArr = qdf.select(col("embedding")).take(1).headOption
      .map(_.getSeq[Float](0).toArray).getOrElse(Array.empty[Float])
    val cells = ivfIdx.probeCells(qArr, NPROBE)
    val member = ivfIdx.assigned.filter(col("ivf_cell").isin(cells: _*)).select(col("id"))
    pq(s, dir).topKAdcAmong(qdf, K, member)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_bruteforce" -> { (s: SparkSession, dir: String) =>
      x1e6(Similarity.topKBruteForceFromNormed(
        Tables.normedEmb(s, dir), queryRow(Tables.emb(s, dir)), K))
    },
    "sim_topk_lsh" -> { (s: SparkSession, dir: String) =>
      x1e6(Similarity.topKLshFromNormed(
        Tables.normedEmb(s, dir), queryRow(Tables.emb(s, dir)), K, DIM))
    },
    // multi-probe LSH: Hamming-1 bucket probes per table — the recall
    // lever that grows query-time probes, not the stored index
    "sim_topk_lsh_multiprobe" -> { (s: SparkSession, dir: String) =>
      x1e6(Similarity.topKLshMultiProbeFromNormed(
        Tables.normedEmb(s, dir), queryRow(Tables.emb(s, dir)), K, DIM))
    },
    // radius search: everything within cosine >= 0.2 of the query — the
    // range complement of top-k (map-only scan + broadcast query, no
    // corpus sort, result size follows the data)
    "sim_range_search" -> { (s: SparkSession, dir: String) =>
      x1e6(Similarity.rangeSearchFromNormed(
        Tables.normedEmb(s, dir), queryRow(Tables.emb(s, dir)), 0.2))
        .orderBy("vec_id")
    },
    // distributed-exact all-pairs: block-partitioned, bounded per-task
    // memory, NO driver collect. The broadcast-collect baseline
    // (Similarity.bruteForcePairs) is spec-only — SimilaritySpec pins the
    // two bit-identical.
    "dedup_embedding_cosine" -> { (s: SparkSession, dir: String) =>
      x1e6(Similarity.bruteForcePairsBlocked(Tables.emb(s, dir), 0.45)).orderBy("a", "b")
    },
    "sim_lsh_pairs" -> { (s: SparkSession, dir: String) =>
      x1e6(Similarity.lshPairsFromNormed(Tables.normedEmb(s, dir), 0.4, DIM)).orderBy("a", "b")
    },
    // ---- deterministic 25% subset (vec_id % 4 == 0) scale-validation
    // forms: the all-pairs/recursive oracles cannot finish at sf0.1; the
    // subset keeps the per-vector arithmetic (norms, buckets, cosine)
    // identical while shrinking the oracle join ~16x, so the pair/cluster
    // family is value-compared at 10x scale too (record in STATUS.md).
    "dedup_embedding_cosine_sub" -> { (s: SparkSession, dir: String) =>
      x1e6(Similarity.bruteForcePairsBlocked(
        Tables.emb(s, dir).filter(col("vec_id") % 4 === 0), 0.45)).orderBy("a", "b")
    },
    "sim_lsh_pairs_sub" -> { (s: SparkSession, dir: String) =>
      x1e6(Similarity.lshPairsFromNormed(
        Tables.normedEmb(s, dir).filter(col("id") % 4 === 0), 0.4, DIM)).orderBy("a", "b")
    },
    "sim_dup_clusters_sub" -> { (s: SparkSession, dir: String) =>
      graft.dedup.Dedup.duplicateClusters(
        Similarity.bruteForcePairsBlocked(
          Tables.emb(s, dir).filter(col("vec_id") % 4 === 0), 0.45)
          .select(col("a"), col("b")))
        .orderBy("id")
    },
    // IVF scale path: deterministic sampled codebook → SQL-reproducible,
    // full DuckDB oracle below (k-means build exactness pinned by IvfSpec)
    "sim_topk_ivf" -> { (s: SparkSession, dir: String) =>
      x1e6(ivf(s, dir).topK(queryRow(Tables.emb(s, dir)), K, NPROBE))
    },
    // semantic duplicate clusters: connected components over the exact
    // cosine near-dup pair graph (the embedding-space analogue of
    // dedup_clusters; same min-label fixpoint, distributed-exact pair
    // generation — no driver collect)
    "sim_dup_clusters" -> { (s: SparkSession, dir: String) =>
      graft.dedup.Dedup.duplicateClusters(
        Similarity.bruteForcePairsBlocked(Tables.emb(s, dir), 0.45)
          .select(col("a"), col("b")))
        .orderBy("id")
    },
    // SemDeDup-style semantic dedup: a vector is dropped iff a
    // lower-id vector in the SAME quantizer cell sits at cosine >= tau.
    // The pair join is within-cell only — the cell id bounds the join
    // group, so the cost is sum(cell_size^2) instead of the corpus's n^2
    // (the whole point of running dedup through the clustering index).
    // Deterministic sampled codebook -> fully DuckDB-reproducible.
    "dedup_semantic" -> { (s: SparkSession, dir: String) =>
      val a = ivf(s, dir).assigned
      val l = a.select(col("ivf_cell").as("cell"), col("id").as("a"),
        col("v").as("va"), col("nrm").as("na"))
      val r = a.select(col("ivf_cell").as("cell_b"), col("id").as("b"),
        col("v").as("vb"), col("nrm").as("nb"))
      l.join(r, col("cell") === col("cell_b") && col("a") < col("b"))
        .filter(graft.functions.Fast.dotFast(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.4)
        .groupBy(col("b"))
        .agg(min(col("a")).as("first_keeper"), count(lit(1)).as("n_witnesses"))
        .select(col("b").as("vec_id"), col("first_keeper"), col("n_witnesses"))
        .orderBy("vec_id")
    },
    // product-quantization code table: 64-dim floats -> 8 subspace codes
    // (8 B/vector — the memory-resident index; encode is one map-only
    // pass with a broadcast codebook)
    "sim_pq_codes" -> { (s: SparkSession, dir: String) =>
      pq(s, dir).codesFlat.orderBy("vec_id", "sub")
    },
    // PQ ADC top-k: broadcast integer lookup table + map-only code scan
    // fused into TakeOrderedAndProject; per-subspace LUT entries floored
    // to x1e6 integers so the distance sum is order-independent
    "sim_topk_pq" -> { (s: SparkSession, dir: String) =>
      pq(s, dir).topKAdc(queryRow(Tables.emb(s, dir)), K)
    },
    // IVF-PQ — the composed deployment shape: route to the NPROBE nearest
    // cells (driver-side routing table), then ADC-scan only those cells'
    // codes (stored partitioned by cell at scale -> pruned scan)
    "sim_topk_ivfpq" -> { (s: SparkSession, dir: String) => ivfPqTopK(s, dir) },
    // index-quality monitoring: recall@k of each ANN path against the
    // exact scan — the number an ANN deployment alerts on ("measure,
    // don't guess"; a quantizer drifts as the corpus grows). Four tiny
    // id-set joins; integer outputs
    "sim_recall" -> { (s: SparkSession, dir: String) =>
      val q = queryRow(Tables.emb(s, dir))
      val exact = Similarity
        .topKBruteForceFromNormed(Tables.normedEmb(s, dir), q, K)
        .select(col("vec_id"))
      def hitRow(method: String, topk: DataFrame): DataFrame =
        topk.select(col("vec_id")).join(exact, "vec_id")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(method).as("method"), lit(K.toLong).as("k"), col("n_hits"))
      Seq(
        hitRow("lsh", Similarity.topKLshFromNormed(Tables.normedEmb(s, dir), q, K, DIM)),
        hitRow("ivf", ivf(s, dir).topK(q, K, NPROBE)),
        hitRow("pq", pq(s, dir).topKAdc(q, K)),
        hitRow("ivfpq", ivfPqTopK(s, dir))
      ).reduce(_ unionAll _).orderBy("method")
    },
    // corpus clustering stats over the same stored assignment: per-cell
    // membership histogram (the index-health / balance view an ANN
    // deployment monitors; skewed cells → re-train the quantizer). One
    // partial-aggregated shuffle on the cell id; exact-integer outputs.
    "sim_cluster_hist" -> { (s: SparkSession, dir: String) =>
      ivf(s, dir).assigned
        .groupBy(col("ivf_cell").as("cid"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("id")).as("min_vec"), max(col("id")).as("max_vec"))
        .orderBy("cid")
    },
    // two-stage (matryoshka-style) retrieval: stage 1 ranks by dot over
    // only the FIRST 16 dims (at scale the stored head-dims column — 4x
    // less IO than full vectors) and keeps 50 candidates; stage 2
    // re-ranks those exactly on all 64 dims. Both stages are map-only
    // scans fused into TakeOrderedAndProject; the re-rank touches 50
    // rows regardless of corpus size.
    "sim_topk_twostage" -> { (s: SparkSession, dir: String) =>
      import graft.functions.Fast
      val q = broadcast(queryRow(Tables.emb(s, dir)).select(col("embedding").as("q"))
        .withColumn("qn", Fast.normFast(col("q"))))
      val cands = Tables.normedEmb(s, dir).join(q)
        .withColumn("tdot", Fast.dotFast(slice(col("v"), 1, 16), slice(col("q"), 1, 16)))
        .orderBy(col("tdot").desc, col("id").asc)
        .limit(50)
      x1e6(cands
        .select(col("id").as("vec_id"),
          (Fast.dotFast(col("v"), col("q")) / (col("nrm") * col("qn"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(K))
    },
    // retrieval end-to-end: ANN hit list (10 ids) joined back to the
    // document payloads — the index→payload fetch every vector search
    // serves. The hit set broadcasts into the payload scan (map-side
    // join; the corpus never shuffles for a lookup).
    "sim_search_docs" -> { (s: SparkSession, dir: String) =>
      val hits = x1e6(ivf(s, dir).topK(queryRow(Tables.emb(s, dir)), K, NPROBE))
      broadcast(hits)
        .join(Tables.docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
          col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("cos_x1e6"), col("source"), col("n_chars"))
        .orderBy(col("cos_x1e6").desc, col("vec_id").asc)
    },
    // HYBRID SEARCH (reciprocal-rank fusion, Cormack 2009): one query
    // doc drives BOTH rankers — its top-3 terms through the tf-idf
    // posting ranker and its embedding through brute cosine — and the
    // two top-20 lists fuse by RRF (Σ 1e6 div (60 + rank), integer).
    // The retrieval shape every curation pipeline serves: lexical
    // catches what dense misses and vice versa. Rank assembly uses
    // Ranking.globalRank (no partitionBy-less window even on 20 rows);
    // at 100 TB each ranker reads its own stored index (postings /
    // vectors) and fusion touches 40 rows.
    "sim_hybrid_rrf" -> { (s: SparkSession, dir: String) =>
      // rank a ≤20-row top list: one single-group collect of the
      // bounded list, sorted in-array, positions exploded — cheaper
      // than the globalRank machinery and safe ONLY because the input
      // is limit-bounded (codebook-tier single-group agg, no
      // partitionBy-less window)
      def rankBounded(top: DataFrame, key: String, ord: String, rank: String): DataFrame =
        top.agg(sort_array(collect_list(struct(col(ord), col(key)))).as("xs"))
          .select(posexplode(col("xs")).as(Seq("i", "x")))
          .select(col(s"x.$key").as("doc_id"), (col("i") + 1).cast("long").as(rank))
      val d = Tables.docs(s, dir)
      val toks = graft.dedup.Hashing.toks(col("text"))
      val qtoks = d.filter(col("doc_id") === 0)
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("qtf"))
        .orderBy(col("qtf").desc, col("tok").asc).limit(3).select("tok")
      val tf = d.filter(col("doc_id") =!= 0)
        .select(col("doc_id"), explode(toks).as("tok"))
        .join(broadcast(qtoks), "tok")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val nn = d.agg(count(lit(1)).as("n_docs"))
      val lexTop = tf.join(broadcast(dfq), "tok").join(broadcast(nn))
        .withColumn("sc", expr("(1000 * tf * n_docs) div df"))
        .groupBy("doc_id").agg(sum(col("sc")).as("score_x1000"))
        .orderBy(col("score_x1000").desc, col("doc_id").asc).limit(20)
        .withColumn("neg_s", -col("score_x1000"))
      val lexR = rankBounded(lexTop, "doc_id", "neg_s", "lex_rank")
      // query doc always tops its own brute list (cos = 1): ask for 21,
      // drop self, rank the remaining 20 on the floored integer cosine
      val denseTop = x1e6(Similarity.topKBruteForceFromNormed(
          Tables.normedEmb(s, dir), queryRow(Tables.emb(s, dir)), 21))
        .filter(col("vec_id") =!= 0)
        .withColumn("neg_c", -col("cos_x1e6"))
      val denseR = rankBounded(denseTop, "vec_id", "neg_c", "dense_rank")
      lexR.join(denseR, Seq("doc_id"), "full_outer") // two 20-row sides
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
          coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
        .withColumn("rrf_x1e6", expr(
          """if(lex_rank > 0, 1000000 div (60 + lex_rank), CAST(0 AS BIGINT))
            | + if(dense_rank > 0, 1000000 div (60 + dense_rank), CAST(0 AS BIGINT))"""
            .stripMargin))
        .orderBy(col("rrf_x1e6").desc, col("doc_id").asc)
        .limit(10)
    },
    // E2E RETRIEVAL PIPELINE — the serving-side tail next to
    // corpus_e2e_curate (dedup) and text_e2e_tokenize (pretraining):
    // quality-gate the documents, restrict the STORED serving index
    // (Tables.annIndex — the StreamingAnnIndex artifact's batch
    // stand-in, same row builder) to the kept corpus by a keyed
    // semi-join, then answer the shared 5-query LSH panel
    // (Similarity.retrievalPanel: broadcast panel, map-only bucket
    // membership, rank window partitioned by query id — never a corpus
    // self-join or re-hash). The gate materializes once as an id list;
    // the index itself is never rebuilt here — at 100 TB both are
    // stored tables and this query is pure serving.
    // Output: 15 rows (q_id, rank, hit_id, cos_x1e6).
    "sim_e2e_retrieval" -> { (s: SparkSession, dir: String) =>
      val kept = Tables.docs(s, dir)
        .filter(graft.functions.TextFunctions.qualityScoreX1000(col("text")) >= 550)
        .select(col("doc_id").as("id"))
        .localCheckpoint()
      Similarity.retrievalPanel(
        Tables.annIndex(s, dir).join(kept, Seq("id"), "left_semi"))
    },
    // quantization-error profile: per-cell sum of squared distance to the
    // own centroid (floored to x1e6 integers per vector — engine-exact).
    // The other index-health number next to the membership histogram: a
    // cell whose SSE grows while its population doesn't is drifting away
    // from its centroid → retrain. Broadcast centroid table (tiny),
    // map-only distance, one pre-combined shuffle.
    "sim_cell_sse" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val idx = ivf(s, dir)
      val cents = broadcast(idx.centroids.toSeq.toDF("cid", "cv"))
      // same per-element arithmetic as the assignment fold (l2Sql)
      val dist = aggregate(
        zip_with(col("v"), col("cv"),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, p) => acc + p)
      idx.assigned.join(cents, col("ivf_cell") === col("cid"))
        .select(col("cid"), floor(lit(1000000.0) * dist).cast("long").as("d6"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vectors"), sum(col("d6")).as("sse_x1e6"))
        .orderBy("cid")
    },
    // k-NN GRAPH: top-3 LSH-candidate neighbors of EVERY vector — the
    // all-vectors batch build (graph clustering / index-construction
    // precursor); value-oracled end to end including the tie-broken rank
    "sim_knn_graph" -> { (s: SparkSession, dir: String) =>
      x1e6(knn(s, dir)
        .select(col("a"), col("rk"), col("b"), col("cos")))
        .select(col("a"), col("rk"), col("b"), col("cos_x1e6"))
        .orderBy("a", "rk")
    },
    // LINK PREDICTION over the kNN graph (common-neighbor / Jaccard
    // coefficient): NON-edges whose endpoints share kNN neighbors — the
    // standard graph-ML edge proposer (candidates an ANN index missed,
    // weak-supervision edges). The directed top-3 edges canonicalize to
    // undirected pairs, the pair set wedge-joins ITSELF on the shared
    // endpoint (the graph_triangles shape — embeddings never move), real
    // edges anti-join out, and the tiny node-degree table broadcasts in
    // for the Jaccard score. Top-50 by (cn, jaccard) fuses to
    // TakeOrderedAndProject.
    "graph_link_pred" -> { (s: SparkSession, dir: String) =>
      val (pairs, adj) = knnPairsAdj(s, dir)
      val adjY = adj.toDF("u", "y")
      val wedges = adj.join(adjY, "u")
        .filter(col("x") < col("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("cn"))
      val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      wedges
        .join(pairs, col("x") === col("a") && col("y") === col("b"), "left_anti")
        .join(broadcast(deg.toDF("x", "dx")), "x")
        .join(broadcast(deg.toDF("y", "dy")), "y")
        .select(col("x").as("a"), col("y").as("b"), col("cn"),
          expr("(1000 * cn) div (dx + dy - cn)").as("jaccard_x1000"))
        .orderBy(col("cn").desc, col("jaccard_x1000").desc, col("a").asc, col("b").asc)
        .limit(50)
    },
    // RESOURCE-ALLOCATION LINK SCORING (Zhou et al. 2009): the
    // common-neighbor predictor weighted by 1/deg of each shared
    // neighbor — rare hubs count more than promiscuous ones (the
    // integer-exact stand-in for Adamic–Adar's 1/log deg, which would
    // be libm-dependent). Same wedge join as graph_link_pred with the
    // neighbor's degree joined in BEFORE the (x, y) rollup; top-50
    // fuses to TakeOrderedAndProject.
    "graph_resource_alloc" -> { (s: SparkSession, dir: String) =>
      val (pairs, adj) = knnPairsAdj(s, dir)
      val adjY = adj.toDF("u", "y")
      val deg = adj.groupBy("u").agg(count(lit(1)).as("degu"))
      val wedges = adj.join(adjY, "u")
        .filter(col("x") < col("y"))
        .join(broadcast(deg), "u")
        .groupBy("x", "y")
        .agg(count(lit(1)).as("cn"), sum(expr("1000000 div degu")).as("ra_x1e6"))
      wedges
        .join(pairs, col("x") === col("a") && col("y") === col("b"), "left_anti")
        .select(col("x").as("a"), col("y").as("b"), col("cn"), col("ra_x1e6"))
        .orderBy(col("ra_x1e6").desc, col("cn").desc, col("a").asc, col("b").asc)
        .limit(50)
    },
    // SEED EXPANSION: bounded multi-source BFS over the kNN graph —
    // every vector within 3 hops of the curated seed set (vec_id % 50
    // == 0), with its minimum hop distance. The corpus-growing pattern:
    // trusted seeds propagate "keep" labels through near-neighbor edges.
    // Iterative frontier⋈edges join + anti-join per round (see
    // graft.sim.Graph.bfs); the recursive-CTE oracle replays the same
    // fixpoint.
    "sim_seed_expand" -> { (s: SparkSession, dir: String) =>
      graft.sim.Graph.bfs(
        knn(s, dir).select(col("a").as("src"), col("b").as("dst")),
        Tables.emb(s, dir).filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("id")),
        maxHops = 3)
        .select(col("id").as("vec_id"), col("dist"))
        .orderBy("vec_id")
    },
    // SQ8 scalar quantization (graft.sim.Sq): per-dimension byte codes
    // from corpus-wide [min, max] ranges — the 4x-compression
    // memory-resident index tier below PQ. ADC top-k decodes per
    // dimension and left-folds the dot with the raw query: a map-only
    // scan over 64 B/vector codes fused into TakeOrderedAndProject.
    // Ranges, codes and scores are deterministic double arithmetic in
    // fixed fold order — fully value-oracled.
    "sim_topk_sq8" -> { (s: SparkSession, dir: String) =>
      val (idx, codesDf) = sq(s, dir)
      val q = queryRow(Tables.emb(s, dir))
        .select(col("embedding")).take(1).headOption
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        .getOrElse(Array.fill(DIM)(0.0)) // empty corpus: scan is empty anyway
      graft.sim.Sq.topKAdc(codesDf, idx, q, K)
    },
    // BATCHED ANN: many queries answered in ONE corpus pass — the
    // retrieval-serving shape (embed a request batch, search once). The
    // query batch broadcasts (it is KBs); each corpus partition scores
    // all queries locally, and only (qid, id, cos) triples — never
    // embeddings — reach the per-query top-k window. At index scale the
    // same shape rides the IVF/PQ candidate path; this is the exact
    // form, value-oracled.
    "sim_topk_batch" -> { (s: SparkSession, dir: String) =>
      val c = Tables.normedEmb(s, dir)
      val qs = broadcast(c.filter(col("id").isin(0L, 1L, 2L))
        .select(col("id").as("qid"), col("v").as("q"), col("nrm").as("qn")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      c.join(qs)
        .select(col("qid"), col("id").as("vec_id"),
          (graft.functions.Fast.dotFast(col("v"), col("q")) / (col("nrm") * col("qn"))).as("cos"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"),
          floor(col("cos") * lit(1000000.0)).cast("long").as("cos_x1e6"))
        .orderBy("qid", "rk")
    },
    // INTEGER GRAM MATRIX (the PCA/whitening/drift input): one scan,
    // fixed d² map-side state per partition — the shuffle carries 32
    // small arrays, never rows, so the same plan holds at 100 TB.
    // Quantized (floor(x·1000)) so the sums are order-independent and
    // engine-exact.
    "sim_gram" -> { (s: SparkSession, dir: String) =>
      graft.sim.Linalg.gramInt(Tables.emb(s, dir), DIM).orderBy("i", "j")
    },
    // JL RANDOM PROJECTION 64→16 with a deterministic LCG matrix — the
    // cheap dimensionality reduction ahead of clustering/ANN. Pure map
    // (matrix is a closure constant; no join, no shuffle before the
    // ordering); integer arithmetic end to end.
    "sim_random_projection" -> { (s: SparkSession, dir: String) =>
      graft.sim.Linalg.randomProjection(Tables.emb(s, dir), DIM, 16)
        .orderBy("vec_id", "j")
    },
    // INTEGER LLOYD K-MEANS (2 full steps, k=4, first-k seed): the
    // clustering primitive under IVF codebooks / semantic partitioning,
    // in the deterministic integer form that lets BOTH engines replay
    // every assignment and centroid update exactly (see
    // graft.sim.Kmeans — quantized coordinates, truncated integer
    // means, lowest-cid tie-break). Scale: centroids broadcast (k rows)
    // into a map-side assignment; each update is one partial-aggregated
    // (cid, dim) shuffle of k·d cells. Report: per-cluster size, exact
    // integer SSE, lowest member id.
    "sim_kmeans" -> { (s: SparkSession, dir: String) =>
      graft.sim.Kmeans.lloydInt(Tables.emb(s, dir), k = 4, iters = 2)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("sse"),
          min(col("vec_id")).as("min_id"))
        .orderBy("cid")
    },
    // FARTHEST-POINT SEEDING (Gonzalez k-center): the deterministic
    // spread-out initialization that replaces k-means++'s random draws —
    // each seed is the argmax of min-distance-to-chosen (ties to lowest
    // vec_id), then one nearest-seed assignment pass. The running
    // min-distance updates map-side against one broadcast seed per
    // round; argmaxes are TakeOrderedAndProject; the corpus never
    // shuffles. Report: per-seed cluster size + exact integer SSE.
    "sim_kmeans_pp" -> { (s: SparkSession, dir: String) =>
      val emb = Tables.emb(s, dir)
      val seeds = graft.sim.Kmeans.farthestSeeds(emb, k = 4)
      graft.sim.Kmeans.assign(graft.sim.Kmeans.quantized(emb),
          seeds.select(col("cid"), col("cv")))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("sse"))
        .join(broadcast(seeds.select(col("cid"), col("seed_id"))), Seq("cid"))
        .select(col("cid"), col("seed_id"), col("n_members"), col("sse"))
        .orderBy("cid")
    },
    // CLUSTER-SEPARATION MARGINS (the integer silhouette stand-in): per
    // vector, the gap between its best and second-best centroid distance
    // under the farthest-point seed set; rolled up per cluster (count,
    // total, truncated mean, minimum). A collapsing margin is the
    // clustering-quality drift alarm next to sim_cell_sse's SSE profile.
    // Distances to the k broadcast seeds; the 2-smallest pick is an
    // array-sort over k entries per vector (k rows, never a window over
    // the corpus); one partial-agg rollup per cluster.
    "sim_cluster_margin" -> { (s: SparkSession, dir: String) =>
      val emb = Tables.emb(s, dir)
      val seeds = graft.sim.Kmeans.farthestSeeds(emb, k = 4)
        .select(col("cid"), col("cv"))
      val top2 = graft.sim.Kmeans.quantized(emb)
        .crossJoin(broadcast(seeds))
        .select(col("vec_id"), col("cid"),
          graft.sim.Kmeans.sqDist(col("qv"), col("cv")).as("dist"))
        .groupBy("vec_id")
        .agg(slice(array_sort(collect_list(struct(col("dist"), col("cid")))),
          lit(1), lit(2)).as("top2"))
        .select(col("vec_id"),
          col("top2").getItem(0).getField("cid").as("cid"),
          (col("top2").getItem(1).getField("dist")
            - col("top2").getItem(0).getField("dist")).as("margin"))
      top2.groupBy("cid")
        .agg(count(lit(1)).as("n_members"), sum(col("margin")).as("sum_margin"),
          min(col("margin")).as("min_margin"))
        .withColumn("mean_margin", expr("sum_margin div n_members"))
        .select(col("cid"), col("n_members"), col("sum_margin"),
          col("mean_margin"), col("min_margin"))
        .orderBy("cid")
    }
  )

  // ---- oracle SQL (mirrors Similarity's fold order exactly) ----

  /** Exact integer squared-L2 between two int64 list expressions
    * (mirrors Kmeans.sqDist's zip+fold). */
  private def kmDistSql(qv: String, cv: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, len($qv) + 1),
       |        i -> ($qv[i] - $cv[i]) * ($qv[i] - $cv[i]))),
       |      (acc, v) -> acc + v)""".stripMargin

  /** The kNN-graph oracle chain ending in `pairs(a, b)` (canonical
    * undirected top-3 edges) and `lp_adj(u, x)` (doubled adjacency) —
    * shared by the two link-predictor oracles. */
  private def knnPairChainSql: String =
    s"""bk AS (
       |  SELECT vec_id, embedding, nrm, ${bucketsSql("embedding")} AS bks FROM n
       |), bkx AS (
       |  SELECT vec_id, u.t, bks[u.t + 1] AS bucket
       |  FROM bk, unnest([0, 1, 2, 3]) AS u(t)
       |), cand AS (
       |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |  FROM bkx l JOIN bkx r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id <> r.vec_id
       |), sc AS (
       |  SELECT a, b,
       |    row_number() OVER (PARTITION BY a
       |      ORDER BY (${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm)) DESC, b ASC) AS rk
       |  FROM cand JOIN n x ON cand.a = x.vec_id JOIN n y ON cand.b = y.vec_id
       |), pairs AS (
       |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM sc WHERE rk <= 3
       |), lp_adj AS (
       |  SELECT a AS u, b AS x FROM pairs
       |  UNION ALL SELECT b, a FROM pairs
       |)""".stripMargin

  /** The farthest-point seeding chain: quantized corpus `q`, running
    * min-distance tables m1..m3, argmax seeds s0..s3, unioned `seeds`
    * (cid, seed_id, cv) — shared by sim_kmeans_pp and
    * sim_cluster_margin. */
  private def ppSeedCtes: String = {
    def step(n: Int, prev: String): String =
      s"""s$n AS (
         |  SELECT CAST($n AS BIGINT) AS cid, vec_id AS seed_id, qv AS cv
         |  FROM $prev ORDER BY mind DESC, vec_id ASC LIMIT 1
         |), m${n + 1} AS (
         |  SELECT p.vec_id, p.qv,
         |    least(p.mind, ${kmDistSql("p.qv", "s.cv")}) AS mind
         |  FROM $prev p, s$n s
         |)""".stripMargin
    s"""q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qv
       |  FROM embeddings
       |), s0 AS (
       |  SELECT CAST(0 AS BIGINT) AS cid, vec_id AS seed_id, qv AS cv
       |  FROM q ORDER BY vec_id ASC LIMIT 1
       |), m1 AS (
       |  SELECT q.vec_id, q.qv, ${kmDistSql("q.qv", "s.cv")} AS mind FROM q, s0 s
       |), ${step(1, "m1")}, ${step(2, "m2")},
       |s3 AS (
       |  SELECT CAST(3 AS BIGINT) AS cid, vec_id AS seed_id, qv AS cv
       |  FROM m3 ORDER BY mind DESC, vec_id ASC LIMIT 1
       |), seeds AS (
       |  SELECT * FROM s0 UNION ALL SELECT * FROM s1
       |  UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
       |)""".stripMargin
  }

  /** One unrolled Lloyd step: assignment aN under centroids cPrev, then
    * recentered centroids cN (truncated integer per-dim means). */
  private def kmStepSql(n: Int, cPrev: String): String =
    s"""a$n AS (
       |  SELECT vec_id, qv, cid, dist FROM (
       |    SELECT q.vec_id, q.qv, c.cid,
       |      ${kmDistSql("q.qv", "c.cv")} AS dist,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${kmDistSql("q.qv", "c.cv")}, c.cid) AS rk
       |    FROM q, $cPrev c
       |  ) WHERE rk = 1
       |), u$n AS (
       |  SELECT cid, u.i AS pos, sum(qv[u.i + 1]) // count(*) AS cv_i
       |  FROM a$n, range($DIM) u(i) GROUP BY 1, 2
       |), c$n AS (
       |  SELECT cid, list(cv_i ORDER BY pos) AS cv FROM u$n GROUP BY cid
       |)""".stripMargin

  /** Left-fold dot product over two vector expressions. */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len($a) + 1),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |      (s, p) -> s + p)""".stripMargin

  /** norms CTE body: per-vector L2 norm (no WITH keyword so callers can
    * prepend RECURSIVE). */
  private val NB =
    s"""n AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |)""".stripMargin
  private val N = s"WITH $NB"

  /** Hamming-1 multi-probe membership test for table `t` (1-indexed):
    * the corpus bucket equals the query bucket or any single-bit flip of
    * it — mirrors [[Similarity.topKLshMultiProbeFromNormed]]'s probe set. */
  private def multiProbeCond(t: Int): String = {
    val probes = s"qbks[$t]" +:
      (0 until bitsPerTable).map(j => s"xor(qbks[$t], ${1L << j})")
    s"list_contains([${probes.mkString(", ")}], bks[$t])"
  }

  /** Left-fold dot over only the first `d` elements (the stage-1 ranking
    * key of the two-stage retrieval). */
  private def dotHeadSql(a: String, b: String, d: Int): String =
    s"""list_reduce(list_prepend(0.0,
       |      list_transform(range(1, ${d + 1}),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |      (s, p) -> s + p)""".stripMargin

  /** Left-fold squared L2 distance between two vector expressions
    * (float→double per element — mirrors Ivf's assignment arithmetic). */
  private def l2Sql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len($a) + 1),
       |        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
       |      (s, p) -> s + p)""".stripMargin

  /** Left-fold squared L2 between subspace `s` (8 dims) of two vector
    * expressions — mirrors Pq's encode arithmetic. `s` may be a column. */
  private def l2SubSql(a: String, b: String, s: String): String =
    s"""list_reduce(list_prepend(0.0,
       |      list_transform(range(1, 9),
       |        i -> (CAST($a[$s*8+i] AS DOUBLE) - CAST($b[$s*8+i] AS DOUBLE))
       |           * (CAST($a[$s*8+i] AS DOUBLE) - CAST($b[$s*8+i] AS DOUBLE)))),
       |      (x, p) -> x + p)""".stripMargin

  /** CTEs ending in `codes(vec_id, s, code)` — the sampled-codebook PQ
    * encoding (same stride/centroid sample as the IVF oracle; argmin per
    * (vector, subspace), ties to the lowest code). */
  private val pqCodesCtes: String =
    s"""mx AS (SELECT max(vec_id) // $NLIST + 1 AS stride FROM embeddings),
       |cent AS (
       |  SELECT CAST(vec_id // stride AS INT) AS cid, embedding AS cv
       |  FROM embeddings, mx WHERE vec_id % stride = 0
       |), subs AS (SELECT unnest(range(0, 8)) AS s),
       |dsub AS (
       |  SELECT e.vec_id, u.s, c.cid, ${l2SubSql("e.embedding", "c.cv", "u.s")} AS dist
       |  FROM embeddings e CROSS JOIN subs u CROSS JOIN cent c
       |), codes AS (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT vec_id, s, cid,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rk
       |    FROM dsub
       |  ) WHERE rk = 1
       |)""".stripMargin

  private def hpList(t: Int, b: Int): String =
    Similarity.hyperplane(t, b, DIM).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** Signed projection onto hyperplane (t,b) of vector expr v. */
  private def projSql(v: String, t: Int, b: Int): String =
    s"""list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len($v) + 1),
       |        i -> CAST($v[i] AS DOUBLE) * (${hpList(t, b)})[i])),
       |      (s, p) -> s + p)""".stripMargin

  private def bucketSql(v: String, t: Int): String =
    (0 until bitsPerTable)
      .map(b => s"(CASE WHEN ${projSql(v, t, b)} >= 0 THEN ${1L << b} ELSE 0 END)")
      .mkString("(", " + ", ")")

  private def bucketsSql(v: String): String =
    (0 until tables).map(t => bucketSql(v, t)).mkString("[", ", ", "]")

  private val allPairsSql: String =
    s"""$N
       |SELECT a, b, cos_x1e6 FROM (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |    ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos,
       |    CAST(floor((${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm)) * 1000000.0) AS BIGINT) AS cos_x1e6
       |  FROM n x JOIN n y ON x.vec_id < y.vec_id
       |) WHERE cos >= 0.45 ORDER BY a, b""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    "sim_topk_bruteforce" ->
      s"""$N, q AS (SELECT embedding AS qv, nrm AS qn FROM n WHERE vec_id = 0)
         |SELECT vec_id,
         |  CAST(floor((${dotSql("embedding", "qv")} / (nrm * qn)) * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM n, q
         |ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |LIMIT $K""".stripMargin,
    // the gate, the kept-corpus index restriction, the bucket-membership
    // candidate filter and the per-query rank all replayed; the quality
    // expression is TextQueries' shared qualSql over (text, toks)
    "sim_e2e_retrieval" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents
         |), kept AS (
         |  SELECT doc_id FROM d WHERE ${TextQueries.qualSql} >= 550
         |), n AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings WHERE vec_id IN (SELECT doc_id FROM kept)
         |), ix AS (
         |  SELECT vec_id, embedding, nrm, ${bucketsSql("embedding")} AS bks FROM n
         |), qs AS (
         |  SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, bks AS qbks
         |  FROM ix ORDER BY vec_id LIMIT 5
         |), sc AS (
         |  SELECT q.q_id, x.vec_id AS id,
         |    ${dotSql("x.embedding", "q.qv")} / (x.nrm * q.qn) AS cos
         |  FROM ix x, qs q
         |  WHERE x.vec_id <> q.q_id AND (
         |    ${(1 to graft.sim.Similarity.tables).map(t => s"x.bks[$t] = q.qbks[$t]").mkString(" OR ")})
         |), rk AS (
         |  SELECT q_id, id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id) AS rk
         |  FROM sc
         |)
         |SELECT q_id, CAST(rk AS BIGINT) AS rank, id AS hit_id,
         |  CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM rk WHERE rk <= 3 ORDER BY q_id, rank""".stripMargin,
    // both rankers replayed (postings tf-idf from the query doc's own
    // top terms; brute cosine excluding self), fused by the identical
    // integer RRF
    "sim_hybrid_rrf" ->
      s"""$N, dtk AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
         |  FROM documents
         |), qt AS (
         |  SELECT tok FROM (SELECT tok, count(*) AS qtf FROM dtk WHERE doc_id = 0 GROUP BY 1)
         |  ORDER BY qtf DESC, tok LIMIT 3
         |), tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM dtk JOIN qt USING (tok)
         |  WHERE doc_id <> 0 GROUP BY 1, 2
         |), dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n_docs FROM documents),
         |lex AS (
         |  SELECT doc_id, CAST(sum((1000 * tf * n_docs) // df) AS BIGINT) AS score
         |  FROM tf JOIN dfq USING (tok) CROSS JOIN nn GROUP BY 1
         |  ORDER BY score DESC, doc_id LIMIT 20
         |), lexr AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
         |  FROM lex
         |), q AS (SELECT embedding AS qv, nrm AS qn FROM n WHERE vec_id = 0),
         |dtop AS (
         |  SELECT vec_id,
         |    CAST(floor((${dotSql("embedding", "qv")} / (nrm * qn)) * 1000000.0) AS BIGINT) AS c6
         |  FROM n, q WHERE vec_id <> 0
         |  ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id LIMIT 20
         |), dnr AS (
         |  SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY c6 DESC, vec_id) AS BIGINT) AS dense_rank
         |  FROM dtop
         |)
         |SELECT doc_id,
         |  coalesce(lex_rank, 0) AS lex_rank,
         |  coalesce(dense_rank, 0) AS dense_rank,
         |  (CASE WHEN lex_rank IS NOT NULL THEN 1000000 // (60 + lex_rank) ELSE 0 END
         |   + CASE WHEN dense_rank IS NOT NULL THEN 1000000 // (60 + dense_rank) ELSE 0 END)
         |    AS rrf_x1e6
         |FROM lexr FULL OUTER JOIN dnr USING (doc_id)
         |ORDER BY rrf_x1e6 DESC, doc_id LIMIT 10""".stripMargin,
    "sim_topk_lsh" ->
      s"""$N, bk AS (
         |  SELECT vec_id, embedding, nrm, ${bucketsSql("embedding")} AS bks FROM n
         |), q AS (SELECT embedding AS qv, nrm AS qn, bks AS qbks FROM bk WHERE vec_id = 0)
         |SELECT vec_id,
         |  CAST(floor((${dotSql("embedding", "qv")} / (nrm * qn)) * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM bk, q
         |WHERE bks[1] = qbks[1] OR bks[2] = qbks[2] OR bks[3] = qbks[3] OR bks[4] = qbks[4]
         |ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |LIMIT $K""".stripMargin,
    "sim_topk_lsh_multiprobe" ->
      s"""$N, bk AS (
         |  SELECT vec_id, embedding, nrm, ${bucketsSql("embedding")} AS bks FROM n
         |), q AS (SELECT embedding AS qv, nrm AS qn, bks AS qbks FROM bk WHERE vec_id = 0)
         |SELECT vec_id,
         |  CAST(floor((${dotSql("embedding", "qv")} / (nrm * qn)) * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM bk, q
         |WHERE ${(1 to 4).map(multiProbeCond).mkString("\n         |   OR ")}
         |ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |LIMIT $K""".stripMargin,
    "sim_range_search" ->
      s"""$N, q AS (SELECT embedding AS qv, nrm AS qn FROM n WHERE vec_id = 0)
         |SELECT vec_id,
         |  CAST(floor((${dotSql("embedding", "qv")} / (nrm * qn)) * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM n, q
         |WHERE ${dotSql("embedding", "qv")} / (nrm * qn) >= 0.2
         |ORDER BY vec_id""".stripMargin,
    "dedup_embedding_cosine" -> allPairsSql,
    "sim_lsh_pairs" ->
      s"""$N, bk AS (
         |  SELECT vec_id, embedding, nrm, ${bucketsSql("embedding")} AS bks FROM n
         |), bkx AS (
         |  SELECT vec_id, embedding, nrm, u.t, bks[u.t + 1] AS bucket
         |  FROM bk, unnest([0, 1, 2, 3]) AS u(t)
         |), cand AS (
         |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM bkx l JOIN bkx r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id
         |)
         |SELECT a, b, cos_x1e6 FROM (
         |  SELECT c.a, c.b,
         |    ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos,
         |    CAST(floor((${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm)) * 1000000.0) AS BIGINT) AS cos_x1e6
         |  FROM cand c JOIN n x ON c.a = x.vec_id JOIN n y ON c.b = y.vec_id
         |) WHERE cos >= 0.4 ORDER BY a, b""".stripMargin,
    // sampled-codebook IVF: centroids = vectors with vec_id % stride == 0
    // (stride = max(vec_id)/NLIST + 1, cid = vec_id/stride); assignment =
    // nearest centroid by left-fold squared L2, ties to lowest cid; probe
    // the NPROBE cells nearest the query; exact cosine top-k within them
    "sim_topk_ivf" ->
      s"""$N, mx AS (SELECT max(vec_id) // $NLIST + 1 AS stride FROM embeddings),
         |cent AS (
         |  SELECT CAST(vec_id // stride AS INT) AS cid, embedding AS cv
         |  FROM embeddings, mx WHERE vec_id % stride = 0
         |), d AS (
         |  SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist
         |  FROM embeddings e CROSS JOIN cent c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |    FROM d
         |  ) WHERE rk = 1
         |), probe AS (
         |  SELECT cid FROM d WHERE vec_id = 0 ORDER BY dist, cid LIMIT $NPROBE
         |), q AS (SELECT embedding AS qv, nrm AS qn FROM n WHERE vec_id = 0)
         |SELECT vec_id,
         |  CAST(floor((${dotSql("embedding", "qv")} / (nrm * qn)) * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM n, q
         |WHERE vec_id IN (SELECT a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid)
         |ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |LIMIT $K""".stripMargin,
    // same sampled-codebook assignment as sim_cluster_hist; candidate
    // pairs restricted to a shared cell, exact cosine, dropped = any id
    // with a lower-id in-cell witness at cos >= 0.4
    "dedup_semantic" ->
      s"""$N, mx AS (SELECT max(vec_id) // $NLIST + 1 AS stride FROM embeddings),
         |cent AS (
         |  SELECT CAST(vec_id // stride AS INT) AS cid, embedding AS cv
         |  FROM embeddings, mx WHERE vec_id % stride = 0
         |), d AS (
         |  SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist
         |  FROM embeddings e CROSS JOIN cent c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |    FROM d
         |  ) WHERE rk = 1
         |), p AS (
         |  SELECT ax.vec_id AS a, ay.vec_id AS b
         |  FROM assign ax JOIN assign ay ON ax.cid = ay.cid AND ax.vec_id < ay.vec_id
         |  JOIN n x ON ax.vec_id = x.vec_id JOIN n y ON ay.vec_id = y.vec_id
         |  WHERE ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.4
         |)
         |SELECT b AS vec_id, min(a) AS first_keeper, count(*) AS n_witnesses
         |FROM p GROUP BY b ORDER BY vec_id""".stripMargin,
    "sim_pq_codes" ->
      s"""WITH $pqCodesCtes
         |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
         |FROM codes ORDER BY vec_id, sub""".stripMargin,
    // same encoding; the query's LUT entries are floored to x1e6 integers
    // before the sum, so the ADC ranking key is addition-order-exact
    "sim_topk_pq" ->
      s"""WITH $pqCodesCtes, qlut AS (
         |  SELECT u.s, c.cid,
         |    CAST(floor(1000000.0 * ${l2SubSql("q.embedding", "c.cv", "u.s")}) AS BIGINT) AS d_x1e6
         |  FROM embeddings q CROSS JOIN subs u CROSS JOIN cent c
         |  WHERE q.vec_id = 0
         |), adc AS (
         |  SELECT k.vec_id, CAST(sum(l.d_x1e6) AS BIGINT) AS adc_x1e6
         |  FROM codes k JOIN qlut l ON l.s = k.s AND l.cid = k.code
         |  GROUP BY 1
         |)
         |SELECT vec_id, adc_x1e6 FROM adc
         |ORDER BY adc_x1e6 ASC, vec_id ASC LIMIT $K""".stripMargin,
    // same cells as the IVF oracle (cent is the same sample), same codes
    // and LUT as the PQ oracle, ADC restricted to the probed cells
    "sim_topk_ivfpq" ->
      s"""WITH $pqCodesCtes, dfull AS (
         |  SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist
         |  FROM embeddings e CROSS JOIN cent c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |    FROM dfull
         |  ) WHERE rk = 1
         |), probe AS (
         |  SELECT cid FROM dfull WHERE vec_id = 0 ORDER BY dist, cid LIMIT $NPROBE
         |), member AS (
         |  SELECT a.vec_id FROM assign a JOIN probe p USING (cid)
         |), qlut AS (
         |  SELECT u.s, c.cid,
         |    CAST(floor(1000000.0 * ${l2SubSql("q.embedding", "c.cv", "u.s")}) AS BIGINT) AS d_x1e6
         |  FROM embeddings q CROSS JOIN subs u CROSS JOIN cent c
         |  WHERE q.vec_id = 0
         |), adc AS (
         |  SELECT k.vec_id, CAST(sum(l.d_x1e6) AS BIGINT) AS adc_x1e6
         |  FROM codes k JOIN qlut l ON l.s = k.s AND l.cid = k.code
         |  WHERE k.vec_id IN (SELECT vec_id FROM member)
         |  GROUP BY 1
         |)
         |SELECT vec_id, adc_x1e6 FROM adc
         |ORDER BY adc_x1e6 ASC, vec_id ASC LIMIT $K""".stripMargin,
    // one assembly of all four index oracles + the exact scan; recall =
    // |topk ∩ exact topk| per method (integer set arithmetic)
    "sim_recall" ->
      s"""WITH $NB, $pqCodesCtes,
         |q AS (SELECT embedding AS qv, nrm AS qn FROM n WHERE vec_id = 0),
         |exact AS (
         |  SELECT vec_id FROM n, q
         |  ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |  LIMIT $K
         |), bk AS (
         |  SELECT vec_id, embedding, nrm, ${bucketsSql("embedding")} AS bks FROM n
         |), ql AS (SELECT bks AS qbks FROM bk WHERE vec_id = 0),
         |lshk AS (
         |  SELECT vec_id FROM bk, ql, q
         |  WHERE bks[1] = qbks[1] OR bks[2] = qbks[2] OR bks[3] = qbks[3] OR bks[4] = qbks[4]
         |  ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |  LIMIT $K
         |), dfull AS (
         |  SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist
         |  FROM embeddings e CROSS JOIN cent c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |    FROM dfull
         |  ) WHERE rk = 1
         |), probe AS (
         |  SELECT cid FROM dfull WHERE vec_id = 0 ORDER BY dist, cid LIMIT $NPROBE
         |), member AS (
         |  SELECT a.vec_id FROM assign a JOIN probe p USING (cid)
         |), ivfk AS (
         |  SELECT vec_id FROM n, q
         |  WHERE vec_id IN (SELECT vec_id FROM member)
         |  ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |  LIMIT $K
         |), qlut AS (
         |  SELECT u.s, c.cid,
         |    CAST(floor(1000000.0 * ${l2SubSql("qq.embedding", "c.cv", "u.s")}) AS BIGINT) AS d_x1e6
         |  FROM embeddings qq CROSS JOIN subs u CROSS JOIN cent c
         |  WHERE qq.vec_id = 0
         |), adc AS (
         |  SELECT k.vec_id, CAST(sum(l.d_x1e6) AS BIGINT) AS adc_x1e6
         |  FROM codes k JOIN qlut l ON l.s = k.s AND l.cid = k.code
         |  GROUP BY 1
         |), pqk AS (
         |  SELECT vec_id FROM adc ORDER BY adc_x1e6 ASC, vec_id ASC LIMIT $K
         |), ivfpqk AS (
         |  SELECT vec_id FROM adc
         |  WHERE vec_id IN (SELECT vec_id FROM member)
         |  ORDER BY adc_x1e6 ASC, vec_id ASC LIMIT $K
         |), res AS (
         |  SELECT 'ivf' AS method, CAST($K AS BIGINT) AS k,
         |    CAST((SELECT count(*) FROM ivfk JOIN exact USING (vec_id)) AS BIGINT) AS n_hits
         |  UNION ALL SELECT 'ivfpq', $K,
         |    CAST((SELECT count(*) FROM ivfpqk JOIN exact USING (vec_id)) AS BIGINT)
         |  UNION ALL SELECT 'lsh', $K,
         |    CAST((SELECT count(*) FROM lshk JOIN exact USING (vec_id)) AS BIGINT)
         |  UNION ALL SELECT 'pq', $K,
         |    CAST((SELECT count(*) FROM pqk JOIN exact USING (vec_id)) AS BIGINT)
         |)
         |SELECT method, k, n_hits FROM res ORDER BY method""".stripMargin,
    // transitive closure over the same exact pair set as
    // dedup_embedding_cosine — min reachable id per member
    "sim_dup_clusters" ->
      s"""WITH RECURSIVE $NB, p AS (
         |  SELECT a, b FROM (
         |    SELECT x.vec_id AS a, y.vec_id AS b,
         |      ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
         |    FROM n x JOIN n y ON x.vec_id < y.vec_id
         |  ) WHERE cos >= 0.45
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM p
         |  UNION SELECT b, a FROM p
         |), reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS id, least(src, min(dst)) AS keeper
         |FROM reach GROUP BY src ORDER BY id""".stripMargin,
    // stage-1 candidates by head-dims dot, exact re-rank within them
    "sim_topk_twostage" ->
      s"""$N, q AS (SELECT embedding AS qv, nrm AS qn FROM n WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, embedding, nrm FROM n, q
         |  ORDER BY ${dotHeadSql("embedding", "qv", 16)} DESC, vec_id ASC
         |  LIMIT 50
         |)
         |SELECT vec_id,
         |  CAST(floor((${dotSql("embedding", "qv")} / (nrm * qn)) * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM cand, q
         |ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |LIMIT $K""".stripMargin,
    // the sim_topk_ivf result joined to the document payload row
    "sim_search_docs" ->
      s"""$N, mx AS (SELECT max(vec_id) // $NLIST + 1 AS stride FROM embeddings),
         |cent AS (
         |  SELECT CAST(vec_id // stride AS INT) AS cid, embedding AS cv
         |  FROM embeddings, mx WHERE vec_id % stride = 0
         |), d AS (
         |  SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist
         |  FROM embeddings e CROSS JOIN cent c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |    FROM d
         |  ) WHERE rk = 1
         |), probe AS (
         |  SELECT cid FROM d WHERE vec_id = 0 ORDER BY dist, cid LIMIT $NPROBE
         |), q AS (SELECT embedding AS qv, nrm AS qn FROM n WHERE vec_id = 0),
         |topk AS (
         |  SELECT vec_id,
         |    CAST(floor((${dotSql("embedding", "qv")} / (nrm * qn)) * 1000000.0) AS BIGINT) AS cos_x1e6
         |  FROM n, q
         |  WHERE vec_id IN (SELECT a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid)
         |  ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC
         |  LIMIT $K
         |)
         |SELECT t.vec_id, t.cos_x1e6, doc.source, doc.n_chars
         |FROM topk t JOIN documents doc ON t.vec_id = doc.doc_id
         |ORDER BY t.cos_x1e6 DESC, t.vec_id ASC""".stripMargin,
    // same assignment CTEs; SSE = per-cell sum of the x1e6-floored own-
    // centroid distances (d already holds every (vector, cell) distance —
    // the join picks each vector's assigned one)
    "sim_cell_sse" ->
      s"""WITH mx AS (SELECT max(vec_id) // $NLIST + 1 AS stride FROM embeddings),
         |cent AS (
         |  SELECT CAST(vec_id // stride AS INT) AS cid, embedding AS cv
         |  FROM embeddings, mx WHERE vec_id % stride = 0
         |), d AS (
         |  SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist
         |  FROM embeddings e CROSS JOIN cent c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |    FROM d
         |  ) WHERE rk = 1
         |)
         |SELECT a.cid, count(*) AS n_vectors,
         |  CAST(sum(CAST(floor(1000000.0 * d.dist) AS BIGINT)) AS BIGINT) AS sse_x1e6
         |FROM assign a JOIN d ON a.vec_id = d.vec_id AND a.cid = d.cid
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same sampled-codebook assignment as sim_topk_ivf, aggregated to the
    // per-cell histogram
    "sim_cluster_hist" ->
      s"""WITH mx AS (SELECT max(vec_id) // $NLIST + 1 AS stride FROM embeddings),
         |cent AS (
         |  SELECT CAST(vec_id // stride AS INT) AS cid, embedding AS cv
         |  FROM embeddings, mx WHERE vec_id % stride = 0
         |), d AS (
         |  SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist
         |  FROM embeddings e CROSS JOIN cent c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |    FROM d
         |  ) WHERE rk = 1
         |)
         |SELECT cid, count(*) AS n_vectors, min(vec_id) AS min_vec, max(vec_id) AS max_vec
         |FROM assign GROUP BY cid ORDER BY cid""".stripMargin,
    "sim_knn_graph" ->
      s"""$N, bk AS (
         |  SELECT vec_id, embedding, nrm, ${bucketsSql("embedding")} AS bks FROM n
         |), bkx AS (
         |  SELECT vec_id, u.t, bks[u.t + 1] AS bucket
         |  FROM bk, unnest([0, 1, 2, 3]) AS u(t)
         |), cand AS (
         |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM bkx l JOIN bkx r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id <> r.vec_id
         |), sc AS (
         |  SELECT a, b,
         |    ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos,
         |    row_number() OVER (PARTITION BY a
         |      ORDER BY (${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm)) DESC, b ASC) AS rk
         |  FROM cand JOIN n x ON cand.a = x.vec_id JOIN n y ON cand.b = y.vec_id
         |)
         |SELECT a, CAST(rk AS BIGINT) AS rk, b,
         |  CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM sc WHERE rk <= 3 ORDER BY a, rk""".stripMargin,
    // same kNN pair chain; the neighbor's degree joins into the wedge
    // BEFORE the rollup, RA = Σ (1e6 div deg(u))
    "graph_resource_alloc" ->
      s"""$N, $knnPairChainSql, lp_deg AS (
         |  SELECT u, count(*) AS degu FROM lp_adj GROUP BY u
         |), lp_w AS (
         |  SELECT l.x AS x, r.x AS y, count(*) AS cn,
         |    CAST(sum(1000000 // degu) AS BIGINT) AS ra_x1e6
         |  FROM lp_adj l JOIN lp_adj r ON l.u = r.u AND l.x < r.x
         |  JOIN lp_deg d ON d.u = l.u
         |  GROUP BY 1, 2
         |), lp_cand AS (
         |  SELECT x, y, cn, ra_x1e6 FROM lp_w
         |  WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.a = lp_w.x AND p.b = lp_w.y)
         |)
         |SELECT x AS a, y AS b, cn, ra_x1e6
         |FROM lp_cand
         |ORDER BY ra_x1e6 DESC, cn DESC, a ASC, b ASC LIMIT 50""".stripMargin,
    // the kNN edge chain (same CTEs as sim_knn_graph) canonicalized to
    // undirected pairs, then the wedge/anti-join/degree arithmetic
    "graph_link_pred" ->
      s"""$N, $knnPairChainSql, lp_w AS (
         |  SELECT l.x AS x, r.x AS y, count(*) AS cn
         |  FROM lp_adj l JOIN lp_adj r ON l.u = r.u AND l.x < r.x
         |  GROUP BY 1, 2
         |), lp_cand AS (
         |  SELECT x, y, cn FROM lp_w
         |  WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.a = lp_w.x AND p.b = lp_w.y)
         |), lp_deg AS (
         |  SELECT u, count(*) AS deg FROM lp_adj GROUP BY u
         |)
         |SELECT lp_cand.x AS a, lp_cand.y AS b, cn,
         |  (1000 * cn) // (dx.deg + dy.deg - cn) AS jaccard_x1000
         |FROM lp_cand
         |JOIN lp_deg dx ON dx.u = lp_cand.x
         |JOIN lp_deg dy ON dy.u = lp_cand.y
         |ORDER BY cn DESC, jaccard_x1000 DESC, a ASC, b ASC LIMIT 50""".stripMargin,
    "sim_seed_expand" ->
      s"""WITH RECURSIVE $NB, bk AS (
         |  SELECT vec_id, embedding, nrm, ${bucketsSql("embedding")} AS bks FROM n
         |), bkx AS (
         |  SELECT vec_id, u.t, bks[u.t + 1] AS bucket
         |  FROM bk, unnest([0, 1, 2, 3]) AS u(t)
         |), cand AS (
         |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM bkx l JOIN bkx r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id <> r.vec_id
         |), sc AS (
         |  SELECT a, b,
         |    row_number() OVER (PARTITION BY a
         |      ORDER BY (${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm)) DESC, b ASC) AS rk
         |  FROM cand JOIN n x ON cand.a = x.vec_id JOIN n y ON cand.b = y.vec_id
         |), e AS (
         |  SELECT a AS src, b AS dst FROM sc WHERE rk <= 3
         |), reach(id, dist) AS (
         |  SELECT vec_id, 0 FROM embeddings WHERE vec_id % 50 = 0
         |  UNION
         |  SELECT e.dst, r.dist + 1 FROM reach r JOIN e ON e.src = r.id
         |  WHERE r.dist < 3
         |)
         |SELECT id AS vec_id, CAST(min(dist) AS BIGINT) AS dist
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_topk_sq8" ->
      s"""WITH mm AS (
         |  SELECT i,
         |    min(CAST(embedding[i] AS DOUBLE)) AS mn,
         |    max(CAST(embedding[i] AS DOUBLE)) AS mx
         |  FROM embeddings CROSS JOIN range(1, 65) AS t(i)
         |  GROUP BY i
         |), mml AS (
         |  SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx FROM mm
         |), q AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
         |), sc AS (
         |  SELECT e.vec_id,
         |    list_reduce(list_prepend(0.0,
         |      list_transform(range(1, 65),
         |        i -> (mn[i] + CAST(
         |                CASE WHEN (mx[i] - mn[i]) <= 0 THEN 0
         |                     ELSE least(255, greatest(0,
         |                       CAST(floor((CAST(e.embedding[i] AS DOUBLE) - mn[i])
         |                         * 255.0 / (mx[i] - mn[i])) AS BIGINT)))
         |                END AS DOUBLE) * (mx[i] - mn[i]) / 255.0)
         |             * CAST(qe[i] AS DOUBLE))),
         |      (a, x) -> a + x) AS adc
         |  FROM embeddings e, mml, q
         |)
         |SELECT vec_id, CAST(floor(adc * 1000000.0) AS BIGINT) AS adc_x1e6
         |FROM sc ORDER BY adc DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sim_topk_batch" ->
      s"""$N, q AS (
         |  SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM n WHERE vec_id IN (0, 1, 2)
         |), sc AS (
         |  SELECT qid, vec_id,
         |    ${dotSql("embedding", "qv")} / (nrm * qn) AS cos,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY (${dotSql("embedding", "qv")} / (nrm * qn)) DESC, vec_id ASC) AS rk
         |  FROM n, q
         |)
         |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id,
         |  CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_x1e6
         |FROM sc WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // farthest-point chain unrolled: m_j holds the running min-distance
    // after j seeds; s_j is the argmax row (mind desc, vec_id asc)
    // same seed chain; rk1/rk2 join replays the 2-smallest pick (the
    // array_sort on struct(dist, cid) is the same (dist, cid) ordering)
    "sim_cluster_margin" ->
      s"""WITH $ppSeedCtes, d AS (
         |  SELECT q.vec_id, s.cid, ${kmDistSql("q.qv", "s.cv")} AS dist,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${kmDistSql("q.qv", "s.cv")}, s.cid) AS rk
         |  FROM q, seeds s
         |), m AS (
         |  SELECT d1.vec_id, d1.cid, d2.dist - d1.dist AS margin
         |  FROM (SELECT * FROM d WHERE rk = 1) d1
         |  JOIN (SELECT * FROM d WHERE rk = 2) d2 USING (vec_id)
         |)
         |SELECT cid, count(*) AS n_members, CAST(sum(margin) AS BIGINT) AS sum_margin,
         |  CAST(sum(margin) AS BIGINT) // count(*) AS mean_margin,
         |  CAST(min(margin) AS BIGINT) AS min_margin
         |FROM m GROUP BY cid ORDER BY cid""".stripMargin,
    "sim_kmeans_pp" ->
      s"""WITH $ppSeedCtes, a AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT q.vec_id, s.cid, ${kmDistSql("q.qv", "s.cv")} AS dist,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${kmDistSql("q.qv", "s.cv")}, s.cid) AS rk
         |    FROM q, seeds s
         |  ) WHERE rk = 1
         |)
         |SELECT a.cid, s.seed_id, count(*) AS n_members,
         |  CAST(sum(dist) AS BIGINT) AS sse
         |FROM a JOIN seeds s USING (cid)
         |GROUP BY 1, 2 ORDER BY a.cid""".stripMargin,
    // two Lloyd steps unrolled as CTE chains; the final assignment a3
    // replays graft.sim.Kmeans.lloydInt's integer arithmetic exactly
    "sim_kmeans" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qv
         |  FROM embeddings
         |), c0 AS (
         |  SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 4
         |), ${kmStepSql(1, "c0")}, ${kmStepSql(2, "c1")},
         |a3 AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT q.vec_id, c.cid,
         |      ${kmDistSql("q.qv", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${kmDistSql("q.qv", "c.cv")}, c.cid) AS rk
         |    FROM q, c2 c
         |  ) WHERE rk = 1
         |)
         |SELECT cid, count(*) AS n_members, CAST(sum(dist) AS BIGINT) AS sse,
         |  min(vec_id) AS min_id
         |FROM a3 GROUP BY cid ORDER BY cid""".stripMargin,
    // quantized coordinates make every sum order-independent — the
    // oracle's arbitrary aggregation order matches the partitioned fold
    "sim_gram" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qv
         |  FROM embeddings
         |), ij AS (
         |  SELECT a.i, b.j FROM range($DIM) a(i), range($DIM) b(j) WHERE b.j >= a.i
         |)
         |SELECT i, j, CAST(sum(qv[i + 1] * qv[j + 1]) AS BIGINT) AS g
         |FROM q, ij GROUP BY i, j ORDER BY i, j""".stripMargin,
    "sim_random_projection" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qv
         |  FROM embeddings
         |), r AS (
         |  SELECT a.i, b.j,
         |    ((1103515245 * (a.i * 16 + b.j) + 12345) % 2147483647) % 2001 - 1000 AS rv
         |  FROM range($DIM) a(i), range(16) b(j)
         |)
         |SELECT vec_id, j, CAST(sum(qv[i + 1] * rv) AS BIGINT) AS p
         |FROM q, r GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin
  )

  /** Subset oracle = parent oracle with the corpus source filtered — these
    * three chains read `FROM embeddings` only in the norms CTE, so the
    * pipeline downstream is textually identical. */
  private def emb20(sql: String): String =
    sql.replace("FROM embeddings", "FROM embeddings WHERE vec_id % 4 = 0")

  val oracles: Map[String, String] = baseOracles ++
    Seq("dedup_embedding_cosine", "sim_lsh_pairs", "sim_dup_clusters")
      .map(n => s"${n}_sub" -> emb20(baseOracles(n)))
}
