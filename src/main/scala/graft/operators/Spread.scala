package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Deterministic hash-spread of a scan ahead of an expensive per-row
  * chain.
  *
  * The round-19 stage profile (per-stage task time, now `graft.ProfileRun`)
  * found the engine's costliest residual pattern: every fixture table is
  * ONE parquet file under `spark.sql.files.maxPartitionBytes`, so a scan
  * is ONE input split — and any expensive per-row projection chain
  * (BPE tokenization, shingling, signature/hamming kernels, levenshtein
  * verify, synthetic media decode) that sits between the scan and the
  * first exchange executes in a SINGLE TASK while the other 31 cores
  * idle (measured: q170 4.2 s, q139 3.2 s, q49 2.8 s, q138 2.2 s of
  * 1-task stage wall at sf0.1). `spark.sql.files.minPartitionNum`
  * cannot fix it (a single row group yields one non-empty split), and
  * the bench harness must not be edited — so the spread is explicit,
  * per hot operator, the same move q152 committed in r18 (guide §2.6
  * idle capacity; §1.2 "the shape of the job first").
  *
  * One hash exchange of the raw rows (deterministic key — never
  * round-robin: rand-keyed repartition re-draws under task retry,
  * SPARK-38388) buys full-width execution of everything downstream.
  * The exchanged bytes are the SMALL side of the trade at every scale:
  * locally the corpus is MBs; at 100 TB a real deployment's scan is
  * already thousands of splits wide and the extra exchange is one
  * linear pass of (key, payload) — while the per-row kernels it
  * parallelizes cost orders of magnitude more than the move. The
  * partition count follows `defaultParallelism` (the driver's
  * `$SPARK_GRAFT_CPUS` contract locally, the executor fleet on a
  * cluster) — never a constant.
  *
  * This is the only keyed spread: no operator or query hash-partitions
  * by a key with its own `repartition(n, key)` (SingleSourceSpec pins
  * it). The vector-search family spreads through
  * `Similarity.vectors(spread = true)`, which calls this.
  */
object Spread {
  /** `df` hash-partitioned `defaultParallelism` ways by `key`. */
  def byKey(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
}
