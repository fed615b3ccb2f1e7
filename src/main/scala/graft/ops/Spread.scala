package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._

/** Parallelism-preserving spreads for CPU-dense stages (r14
  * optimization round).
  *
  * Two local-mode-vs-scale facts collide in this repo's pipelines:
  *
  *  1. parquet packs a sub-`maxPartitionBytes` table into ONE input
  *     split, so on a small corpus every per-row-heavy stage
  *     downstream of a bare scan (shingling, LSH hashing, brute-force
  *     scoring against a broadcast side, HTML link extraction) runs
  *     in a single task while the rest of the machine idles;
  *  2. AQE's partition coalescing targets BYTES
  *     (`minPartitionSize`, default 1 MB), so a keyed
  *     `repartition(key)` — shuffle origin REPARTITION_BY_COL — is
  *     folded back to one or two partitions exactly when the frame is
  *     byte-tiny but CPU-dense (measured at sf0.1: the 2000×2000 kNN
  *     scoring stage and the 12-iteration classifier gradient loop
  *     both ran single-task behind such a repartition).
  *
  * The fix is NOT a constant tuned for local[32]: when the input is
  * already at least as parallel as the cluster (`defaultParallelism`
  * splits — every real corpus scan at 100 TB), these helpers keep the
  * scale spelling (no shuffle, or the AQE-tunable keyed repartition
  * whose partition sizing stays byte-driven). Only a genuinely NARROW
  * input gets an explicit partition count — and a frame that fit in
  * fewer splits than cores is small by construction, so
  * cores-many partitions can never be memory-hostile. */
object Spread {

  private def parallelismOf(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Narrow-transformation logical nodes: a plan made only of these
    * (over leaves) contains no Exchange, so building its RDD is
    * plan-side work only — `toRdd` can be probed for the partition
    * count without running anything. Everything else (joins,
    * aggregates, windows, repartitions, limits, unions, …) is treated
    * as NOT narrow-eligible: its parallelism is already
    * shuffle/AQE-determined, and — the r15 fix — probing `toRdd` on
    * such a plan under AQE MATERIALIZES every upstream shuffle stage,
    * i.e. the old probe fired real Spark jobs at plan-construction
    * time inside otherwise-lazy plan builders, and those probe stages
    * belong to a separate QueryExecution so the actual query could
    * not even reuse them (composed inputs paid their upstream work
    * twice). */
  private def narrowNode(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
        _: LocalLimit | _: Sample | _: Expand => true
    // Typed object pipelines (the WET/WARC parse path: wholestage
    // MapPartitions between Deserialize/Serialize) are one-to-one over
    // partitions — narrow.
    case _: DeserializeToObject | _: SerializeFromObject |
        _: MapPartitions | _: MapElements | _: TypedFilter => true
    // A Union of narrow subtrees is itself shuffle-free (partitions
    // concatenate), so probing it is safe — and link-layer inputs are
    // unions of synthesized outlink branches (the r15 regression that
    // added this line: excluding Union silently un-spread
    // curation_link_graph's extraction back to 2 tasks).
    case _: Union => true
    case _: LeafNode => true
    case _ => false
  }

  /** Streaming frames never count as narrow: probing their planned
    * parallelism would build a batch plan (illegal on a stream), and
    * micro-batch sources size their own partitioning. Both helpers
    * then keep the stream-safe pre-r14 spelling. */
  private def isNarrow(df: DataFrame): Boolean =
    !df.isStreaming &&
      df.queryExecution.optimizedPlan.collectFirst {
        case p if !narrowNode(p) => p
      }.isEmpty &&
      df.queryExecution.toRdd.getNumPartitions < parallelismOf(df)

  /** Spread `df` across the cluster only when its planned parallelism
    * is below the session default; untouched (NO added shuffle)
    * otherwise. For CPU-dense stages that need no particular
    * downstream partitioning. */
  def ifNarrow(df: DataFrame, key: Column): DataFrame =
    if (isNarrow(df)) df.repartition(parallelismOf(df), key) else df

  /** Hash-partition `df` by `key` — the spelling for pipelines whose
    * downstream groupBys/windows ride the established partitioning —
    * pinning the partition count only when the input is narrow.
    * At scale this is exactly the old `repartition(key)` (AQE sizes
    * the shuffle by bytes); on a narrow input the explicit count
    * stops AQE's byte-targeted coalescing from serializing the
    * CPU-dense stage that follows. */
  def keyed(df: DataFrame, key: Column): DataFrame =
    if (isNarrow(df)) df.repartition(parallelismOf(df), key)
    else df.repartition(key)
}
