package graft.tools

import graft.Verify

/** Parameterized-knob correctness dump for the streaming curation
  * cascade: stream_corpus_ingest at a NON-default quality gate and
  * train/val/test split, in the exact `graft.Verify` output shape, so
  * `tools/check_oracles.py` gates it against DuckDB unchanged. The
  * proof (VerifyTtl's pattern) that the A30 knobs really drive both
  * the Spark builder and the oracle SQL — the pair stays
  * hash-identical at any setting, not just the shipped default.
  *
  * Usage: runMain graft.tools.VerifyCuration <sfDir> <outDir>
  *          [qualityMin] [trainPct] [valPct]
  * (defaults: qualityMin = 0.75, trainPct = 90, valPct = 5 — i.e. a
  * stricter gate and a 90/5/5 split, both off the shipped 0.65/98/1/1)
  */
object VerifyCuration {
  def main(args: Array[String]): Unit = {
    val qualityMin = if (args.length > 2) args(2).toDouble else 0.75
    val trainPct = if (args.length > 3) args(3).toInt else 90
    val valPct = if (args.length > 4) args(4).toInt else 5
    val spark = Verify.session()
    try Verify.dump(spark, args(0), args(1), Seq(
      graft.streaming.Streaming.corpusIngestWith(qualityMin, trainPct, valPct)))
    finally spark.stop()
  }
}
