package graft

/** Session-level tuning applied by [[GraftSession.local]] (r14
  * optimization round). */
object SessionTuning {

  /** Scratch directory for shuffle files and spills
    * (`spark.local.dir`). Local-mode default: RAM-backed tmpfs when
    * the sandbox has one — measured on this host, shuffle-file I/O on
    * the virtio disk is a large share of every small stage's wall
    * time (run ≫ cpu in task metrics; moving local dirs to /dev/shm
    * cut multi-stage query rows 20–40%). On a real cluster the
    * analogue is instance NVMe — set `SPARK_GRAFT_LOCAL_DIR` (or the
    * cluster's own `spark.local.dir`/`SPARK_LOCAL_DIRS`, which Spark
    * prefers when set) to the fast device; RAM-backed scratch is NOT
    * the production recommendation for 100 TB shuffles, it is the
    * right spelling for a memory-rich single node whose shuffles are
    * far smaller than RAM. */
  def localDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    val shm = new java.io.File("/dev/shm")
    // Gated on free space (r15, advisor finding): containers commonly
    // mount /dev/shm at 64 MB, where RAM-backed shuffle scratch would
    // fail mid-query with ENOSPC and compete with executor memory.
    // tmpfs is only preferred when it has comfortable headroom for the
    // gate-scale shuffles (≥ 8 GiB free); anything less falls back to
    // java.io.tmpdir unconditionally.
    if (shm.isDirectory && shm.canWrite &&
        shm.getUsableSpace >= 8L * 1024 * 1024 * 1024)
      "/dev/shm/spark-graft-local"
    else System.getProperty("java.io.tmpdir")
  })

  /** Catalyst rules excluded from every graft session (r15
    * optimization round).
    *
    * `InferFiltersFromGenerate` synthesizes
    * `size(arr) > 0 AND isnotnull(arr)` under every `explode(arr)` —
    * and `PushDownPredicates` then pushes that filter through the
    * pipeline's repartitions down to the scan. For this repo that is a
    * pessimization twice over: (1) `arr` here is always an EXPENSIVE
    * derived array (tokenize → gram-join → hash shingles, feature
    * buckets), so the inferred filter re-evaluates the entire
    * construction a second time per row — whole-stage codegen does not
    * CSE across the Filter/Project operator boundary; (2) pushed below
    * the spread/keyed repartition it runs in the SCAN stage, i.e.
    * single-task on a narrow input (measured: 5.9 s of
    * text_classifier_train's 7.7 s lap at sf0.1 was this filter alone,
    * and every shingle index paid the same double-shingling below its
    * spread). The filter's only benefit — dropping empty-array rows
    * before the shuffle — is negligible for text corpora (virtually
    * every document yields grams) and holds at every scale, so the
    * exclusion is not a local[32]-only tune. Semantics are unchanged
    * by construction: the inferred filter only removes rows the
    * explode drops anyway. */
  final val excludedRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
}
