package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Map-only MinHash LSH banding of a document stream: per row, the
 * (band_id, band_hash) rows that the batch
 * `Dedup.minhashBands(Dedup.minhashSignatures(…))` would produce, computed
 * without a window, groupBy or state, so it runs on a streaming frame as-is.
 * It holds no state itself. The online near-dup filter built on it is the
 * sink pipeline's `dedup=near` stage, which keeps the seen bands in the
 * sink's keyed store; q78 runs [[bandedStream]] as a batch query.
 */
object StreamingDedup {

  /**
   * [[bandRows]] keyed on one doc-id column: the (doc_id, band_id,
   * band_hash) rows of the batch `Dedup.minhashBands(Dedup.minhashSignatures(…))`
   * (pinned by a batch-equivalence spec), so stream and batch candidates
   * agree. Docs with fewer than `shingleN` tokens emit no bands, matching
   * the batch path.
   */
  def bandedStream(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, shingleN: Int = 3, rowsPerBand: Int = 4): DataFrame =
    bandRows(docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text")), "__text", Seq("doc_id"),
      numHashes, shingleN, rowsPerBand)

  /**
   * One row per (key columns, band_id, band_hash) computed MAP-ONLY from
   * `textCol` — the shared core of [[bandedStream]] and the sink pipeline's
   * `dedup=near` stage (which keys on (partition, offset) instead of a doc
   * id). The tokenize → shingle → minhash → band chain runs as ONE native
   * codegen'd expression per row ([[graft.functions.MinhashBandsExpr]] —
   * no window, no groupBy, runs on streaming frames as-is), producing the
   * EXACT same band values as the batch
   * `Dedup.minhashBands(Dedup.minhashSignatures(…))` (pinned by the
   * batch-equivalence spec and q78's oracle). Rows with fewer than
   * `shingleN` tokens have no shingles and emit no band rows, matching the
   * batch path (the expression returns an empty array; `explode` drops it).
   *
   * HISTORY: rounds 6–8 composed this from higher-order array lambdas in
   * narrow selects. Those evaluate INTERPRETED per element — the q78 bench
   * row cost 27 s at sf0.1 against 0.8 s for its batch twin q25 — and the
   * shape was fragile (collapsing the narrow selects re-evaluated the
   * shingle fold per downstream reference, measured ~67× slower still).
   * The native expression is both ~30× faster and shape-proof: there is
   * exactly one fold, inside one generated function, whatever Catalyst
   * does to the projections (PlanInventorySpec asserts the
   * single-occurrence plan on q78).
   */
  def bandRows(docs: DataFrame, textCol: String, keyCols: Seq[String],
      numHashes: Int = 16, shingleN: Int = 3, rowsPerBand: Int = 4): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val keys = keyCols.map(col)
    val bandsArr = GraftBridge.column(graft.functions.MinhashBandsExpr(
      GraftBridge.expression(col(textCol).cast("string")),
      numHashes, shingleN, rowsPerBand))
    docs
      .select(keys :+ explode(bandsArr).as("band"): _*)
      .select(keys :+ col("band.band_id").as("band_id") :+
        col("band.band_hash").as("band_hash"): _*)
  }
}
