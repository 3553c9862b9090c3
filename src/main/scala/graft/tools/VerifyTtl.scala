package graft.tools

import graft.Verify

/** Parameterized-config correctness dump: the TTL-sensitive A-family
  * queries and the poll-period keyset feed at a NON-default TTL / pull
  * period, in the exact `graft.Verify` output shape, so
  * `tools/check_oracles.py` gates them against DuckDB unchanged.
  * This is the proof that the reference's `le.renew.ttl.period.ms` /
  * `lr.pull.period.ms` knobs are really threaded through — the same
  * query builders and the same oracle SQL, both driven by the
  * parameter, stay hash-identical at any setting.
  *
  * Usage: runMain graft.tools.VerifyTtl <sfDir> <outDir> [ttlMs] [pullMs]
  * (defaults: ttlMs = 1800000 = 30 min, pullMs = 43200000 = 12 h)
  */
object VerifyTtl {
  def main(args: Array[String]): Unit = {
    val ttlUs = (if (args.length > 2) args(2).toLong else 1800000L) * 1000L
    val pullUs = (if (args.length > 3) args(3).toLong else 43200000L) * 1000L
    val spark = Verify.session()
    try Verify.dump(spark, args(0), args(1),
      graft.queries.Coordination.allTtl(ttlUs) :+
        graft.queries.Coordination.keysetChangeFeedPeriod(pullUs))
    finally spark.stop()
  }
}
