package graft.ops

import org.apache.spark.sql.DataFrame

/** Scan-width utilities — the №27 rule (r16 optimization round).
  *
  * The bench/test corpora are single-row-group parquet files, so every
  * scan stage runs exactly ONE task no matter the master's core count:
  * parquet hands a row group to the split holding its byte midpoint, so
  * `spark.sql.files.maxPartitionBytes` cannot widen a one-row-group
  * file. Any CPU-dense kernel evaluated below the first exchange —
  * per-row digest packs (q60/q63's 4×md5), keyword-classify scans,
  * token/shingle explodes feeding partial aggregates, simhash
  * fingerprints, MLlib featurization — therefore serialises onto one
  * core while the rest of the machine idles (measured catalog-wide as
  * `one_task_cpu` by `graft.Profile stages`: e.g. ml01 7.6 cpu-s /
  * ml07 5.2 / d07 2.3, each 100% inside 1-task stages at sf0.1 on
  * local[32]).
  *
  * [[spread]] inserts a round-robin REPARTITION_BY_NUM exchange ONLY
  * when the input is narrower than the session's shuffle width. The
  * guard makes it scale-adaptive (optimization guide §2: derive
  * parallelism from the input, never a constant tuned for one mode):
  * at any real corpus width — row groups ≥ cores from 100 GB up — the
  * probe sees a wide scan and the exchange is never inserted, so a
  * production plan pays nothing. Cost when it fires: one shuffle of
  * the scan's projected columns (narrow by construction — callers
  * spread a pruned projection, not `SELECT *`).
  *
  * Round-robin, not a key: the spread sites feed either stateless
  * per-row kernels or aggregations that do their own keyed exchange
  * afterwards; a keyed spread would just move the skew question here.
  * Spark's sort-before-repartition keeps retried tasks deterministic.
  */
object Width {

  /** The session's target width — `spark.sql.shuffle.partitions`, the
    * same width [[EntityResolution]]'s maybeWiden and [[Dedup]]'s
    * verifyParallelism pin (bench/Verify set it to the core count). */
  private[ops] def target(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Round-robin the frame to session width iff its physical plan is
    * narrower (single/few-split scans at bench SFs); a no-op — no
    * exchange in the plan at all — when the scan is already wide. */
  def spread(df: DataFrame): DataFrame = {
    // streaming frames cannot be probed (`.rdd` throws on a streaming
    // source) and micro-batch width is the state-partition knob's job
    // (№21) — pass them through untouched so batch/stream shared
    // helpers (e.g. Dedup.nearDupAdmission callers) stay stream-safe
    if (df.isStreaming) return df
    val np = target(df)
    if (df.rdd.getNumPartitions < np) df.repartition(np) else df
  }
}
