package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-staged MinHash-LSH dedup chain ([[Staged.PerRun]]).
  *
  * Five declared queries (`dedup_lsh_pairs`, `dedup_jaccard`,
  * `dedup_editdist`, `dedup_clusters`, `corpus_filter`) consume
  * successive stages of ONE pipeline: signatures → banded candidate
  * pairs → Jaccard-verified pairs → connected-component labels (the
  * edit-distance verifier branches off the candidate stage).
  * Re-deriving the whole chain
  * from raw text per query tripled the bench bill (round 3 verdict).
  * The frames are pair/label tables — O(candidate pairs), not
  * O(corpus) — so holding them for the session is cheap at any scale.
  */
object DedupChain {

  private[graft] val stage = new Staged.Chain("DedupChain", Staged.PerRun)

  /** Drop every staged frame for `s` and free its checkpoint blocks. */
  def release(s: SparkSession): Unit = stage.release(s)

  // NOT staged: the (doc_id, sh) shingle frame. Measured at sf0.1, a
  // checkpointed shingle stage saves nothing — whole-stage codegen
  // already fuses shingle construction into each consumer (the
  // signature path never materializes string arrays at all, it fuses
  // shingle->md5 in one pass), so staging O(corpus) data only trades
  // compute for checkpoint I/O. Re-measured round 7 after token-hash
  // staging landed (ChainProfile A/B, interleaved ×2): fused 1.86/1.77 s
  // vs staged 1.91/1.79 s — still a wash-to-negative; decision stands.
  // Callers with a persisted shingle table (the per-corpus-snapshot
  // production pattern) can use the Dedup.*Sh variants directly.

  /** LSH banded candidate pairs (doc_a, doc_b) for `dir`'s documents.
    * A projection of the jaccard stage, not its own checkpoint: the
    * jaccard join is INNER against the all-docs shingle-set frame, so
    * it preserves every candidate pair — staging both would
    * materialize the same rows twice and pay an extra checkpoint job
    * in the build.
    */
  def candidatePairs(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    jaccardPairs(s, dir, docs).select(col("doc_a"), col("doc_b"))

  /** The (doc_id, m0..m7) MinHash signature frame, staged once per
    * (session, dir): the candidate-pair build folds it into the banded
    * self-join, and the signature-estimated verifier
    * ([[Dedup.minhashEstimate]], `dedup_minhash_est`) re-joins it onto
    * the candidates — O(9 ints per doc), far smaller than the text it
    * summarizes, so the checkpoint is cheaper than one re-derivation.
    * The per-snapshot signature table of a production chain.
    */
  def minhashSigs(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "sigs"))(Dedup.minhashSignatures(docs))

  /** Candidate pairs with exact word-3-gram Jaccard similarity — the
    * chain's verify stage (staged signatures → bands → candidate join
    * → jaccard verify).
    */
  def jaccardPairs(s: SparkSession, dir: String, docs: => DataFrame): DataFrame = {
    lazy val d = docs
    stage.checkpoint(s, (dir, "jaccard"))(
      Dedup.jaccardPairs(
        Dedup.lshCandidatePairsFromSigs(minhashSigs(s, dir, d)), d))
  }

  /** Connected-component labels over the jaccard >= 0.5 edge list. */
  def clusterLabels(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "labels"))(
      Dedup.clusters(
        jaccardPairs(s, dir, docs)
          .where(col("jaccard") >= 0.5)
          .select("doc_a", "doc_b")))

  /** CC labels over the BASE snapshot only (doc_id % 10 != 0) — the
    * persistent label-store state `dedup_clusters_incremental`
    * maintains. Staged like every other chain stage: in production
    * this table IS on disk (it is the dedup store), so deriving it
    * per query would charge the incremental path for the full history
    * it exists to avoid.
    */
  def baseClusterLabels(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "baselabels")) {
      // r21: filter the staged all-docs verify stage instead of
      // rebuilding signatures + band join + jaccard verify over the
      // 90% base snapshot. Plan-equal by construction: the band
      // self-join has no df cap (a pair of old docs shares a band
      // independently of which new docs exist), jaccard is pair-local,
      // and CC sees the identical edge set either way — so the base
      // state table is one filter + CC over the frame the session
      // already stages for the five all-docs consumers. The
      // incremental DELTA path stays O(delta) (it never reads this
      // all-docs stage; see dedup_clusters_incremental).
      Dedup.clusters(
        jaccardPairs(s, dir, docs)
          .where(col("jaccard") >= 0.5 &&
            col("doc_a") % 10 =!= 0 && col("doc_b") % 10 =!= 0)
          .select(col("doc_a"), col("doc_b")))
    }

  /** The unit-level (32-token chunk, uid = doc_id·1000 + idx) near-dup
    * pair frame (doc_a, doc_b, jaccard ≥ 0.5), staged once per
    * (session, dir): `dedup_paragraphs` and
    * `paragraph_neardedup_filter` fold the IDENTICAL unit MinHash/LSH
    * + jaccard-verify chain — each re-ran it per query before r21.
    * O(near-dup unit pairs) rows, the same stance as the
    * document-level jaccard stage. `units` must be the keyed
    * (doc_id = uid, text) frame both consumers build from
    * Corpus.chunk(·, 32, 32).
    */
  def paraPairs(s: SparkSession, dir: String, units: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "parapairs"))(Dedup.paragraphPairs(units))

  // NOT staged: the paragraph/substring REBUILD outputs
  // (paragraphDedupFilter / substringDedupFilter). Measured r21
  // (PerfProbe, sf0.1): a checkpointed rebuild frame materializes the
  // expensive text_clean column that the count-timed consumers never
  // evaluate (Catalyst prunes it under both the declared query's
  // count and corpus_dedup_report's numeric aggregates), so staging
  // turned dedup_substrings 0.44 s → 4.13 s for zero second-reader
  // benefit. The report re-derives its sums from the lazy frames and
  // lets pruning do the sharing.

  /** The df-capped winnow candidate graph (doc_a, doc_b,
    * n_shared_fingerprints), staged once per (session, dir): four
    * declared consumers (`dedup_winnow_pairs`, `dedup_winnow_clusters`,
    * `corpus_dedup_report`, `corpus_prepare_winnow`) fold the same
    * graph, and the frame is O(candidate pairs) — far smaller than
    * the fingerprint rows it joins. Same stance as the jaccard stage.
    */
  def winnowPairs(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "winpairs"))(Corpus.winnowCandidatePairs(docs))

  /** The (doc_id, is_exact_canonical) flag frame, staged once per
    * (session, dir): SEVEN declared queries (corpus_filter, the four
    * corpus_prepare variants, gate_attribution, corpus_yield_report)
    * each ran the full-corpus md5 + groupBy(cmd5) + join-back per
    * query — two corpus scans and two exchanges apiece for the same
    * O(docs) boolean. Consumers equi-join this frame on doc_id (the
    * staged side is tiny per partition, so the join broadcasts) and
    * drop the md5 from their own scan entirely. The per-snapshot
    * canonical-flag table of a production chain.
    */
  def exactCanonical(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "exactcanon"))(
      Corpus.withExactCanonical(
        docs.select(col("doc_id"), md5(col("text")).as("cmd5")))
        .select(col("doc_id"), col("is_exact_canonical")))

  /** CC labels over the winnow candidate graph, staged once per
    * (session, dir): `dedup_winnow_clusters` declares the frame and
    * `corpus_prepare_winnow` gates on its non-canonicals — each ran
    * the ~20-round CC label propagation over the staged pairs per
    * query before r21. Same stance as the LSH [[clusterLabels]].
    */
  def winnowClusterLabels(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "winlabels"))(
      Dedup.clusters(winnowPairs(s, dir, docs).select("doc_a", "doc_b")))

  /** The (doc_id, th1, th2) token-hash frame ([[Dedup.tokenHashes]]),
    * staged once per (session, dir): md5 over the token stream is the
    * cost floor of every simhash signature, and all three declared
    * simhash queries fold the same hashes — per-query hashing ran the
    * corpus md5 4x (round-5 verdict item #6). Unlike the shingle
    * frame (deliberately NOT staged, see above), the hash arrays are
    * SMALLER than the text they derive from (~4 B/token ints), so the
    * checkpoint write is cheaper than one re-hash pass.
    */
  def tokenHashes(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "tokhash"))(Dedup.tokenHashes(docs))

  /** Staged 32-bit signature frame (doc_id, simhash) — the majority
    * vote over the staged hashes is itself the expensive map stage
    * (32 bit-counts × n tokens per doc), and both the signature query
    * and the banded-pairs query fold it. O(1 long per doc).
    */
  def simhashes32(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "sims32"))(Dedup.simhashesTh(tokenHashes(s, dir, docs)))

  /** Staged 64-bit signature frame (doc_id, simhash). */
  def simhashes64(s: SparkSession, dir: String, docs: => DataFrame): DataFrame =
    stage.checkpoint(s, (dir, "sims64"))(Dedup.simhashes64Th(tokenHashes(s, dir, docs)))
}
