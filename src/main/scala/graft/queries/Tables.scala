package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.sim.Similarity

/**
 * Per-(session, sf-dir) memoized corpus materializations shared by the
 * query packs — the same pattern as [[graft.log.Fixture.events]].
 *
 * Why: a verify/bench batch runs every operator over ONE corpus. The
 * expensive signature passes (shingle sets, minhash input, simhash,
 * embedding norms) are inputs to several operators each; recomputing and
 * re-localCheckpointing them per query both multiplies work and — the
 * round-1 bench lesson — accumulates dead checkpoint RDDs across 30+
 * queries until the heap thrashes. In a real deployment these are stored
 * columns written by the ingest pipeline (compute once, amortized); the
 * memo is the in-session equivalent.
 */
object Tables {

  private def memo(s: SparkSession, dir: String, key: String)(mk: => DataFrame): DataFrame =
    graft.util.Memo(s, dir, s"Tables.$key")(mk)

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Materialized shingle-hash sets of `documents` (see [[Dedup.shingleSets]]). */
  def shingleSets(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "shingleSets")(Dedup.shingleSets(docs(s, dir)))

  /** Materialized simhash signatures of `documents`. */
  def simhashSigs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "simhashSigs")(Dedup.simhashSigs(docs(s, dir)))

  /** Materialized 62-bit simhash signatures of `documents`. */
  def simhashWideSigs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "simhashWideSigs")(Dedup.simhashWideSigs(docs(s, dir)))

  /** Materialized winnowing fingerprint postings `(doc_id, fp)` of
    * `documents` (see [[graft.dedup.Winnow.postings]]) — shared by the
    * fingerprint dump and the shared-passage pair join. */
  def winnowPostings(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "winnowPostings")(
      graft.util.Par.widen(graft.dedup.Winnow.postings(docs(s, dir))).localCheckpoint())

  /** Materialized normed embedding corpus (see [[Similarity.normed]]). */
  def normedEmb(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "normedEmb")(Similarity.normed(emb(s, dir)))

  /** The stored ANN serving index `(id, v, nrm, cb)` — the batch
    * stand-in for the [[graft.streaming.StreamingAnnIndex]]-maintained
    * artifact, built by the SAME row builder
    * ([[Similarity.annIndexRows]]) so retrieval queries read the index
    * the ingest pipeline maintains instead of re-hashing the corpus. */
  def annIndex(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "annIndex")(
      Similarity.annIndexRowsFromNormed(normedEmb(s, dir)).localCheckpoint())

  /** Materialized 8-token span-hash postings `(id, pos, span_h)` of
    * `documents` (see [[Dedup.spanPostings]]) — shared by the span
    * blocklist and the per-doc contamination profile. */
  def spanPostings(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "spanPostings")(
      graft.util.Par.widen(Dedup.spanPostings(docs(s, dir), spanTokens = 8)).localCheckpoint())

  /** Materialized 4-token line chunking `(id, line_no, line)` of
    * `documents` (see [[Dedup.docLines]]) — shared by the boilerplate
    * report and the stripping pass. */
  def docLines(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "docLines")(
      graft.util.Par.widen(Dedup.docLines(docs(s, dir), wordsPerLine = 4)).localCheckpoint())

  // ---- "yesterday's" incremental-clustering state (doc_id % 10 != 0,
  // the 90% standing-corpus split of the dedup_clusters_incr gate) ----
  //
  // At 100 TB these ARE stored tables: the entire point of incremental
  // cluster maintenance is that the nightly job reads yesterday's banded
  // signatures and labels instead of recomputing them. The memo is the
  // in-session stand-in for that store, so the warm bench measures the
  // operation's actual nightly cost — the delta side's signature pass +
  // delta pairs + the label merge; the first touch (the "initial load")
  // is recorded by the bench's cold pass as usual.

  /** Shingle sets of the standing-corpus split. */
  def oldSets(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "oldSets")(
      shingleSets(s, dir).filter(org.apache.spark.sql.functions.col("id") % 10 =!= 0))

  /** Stored banded minhash signatures of the standing corpus. */
  def oldBanded(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "oldBanded")(
      Dedup.bandedSignatures(oldSets(s, dir)).localCheckpoint())

  /** Stored (id, keeper) labeling of the standing corpus — min-id
    * clustering of its banded near-dup pairs. */
  def oldLabels(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "oldLabels")(
      Dedup.duplicateClustersAltStar(
        Dedup.minhashLshPairsFromBanded(oldBanded(s, dir), oldSets(s, dir),
          thresholdX1000 = 300)).localCheckpoint())
}
