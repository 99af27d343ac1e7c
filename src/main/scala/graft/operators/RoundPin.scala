package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iteration-round pinning with a cluster-grade reliable option.
  *
  * Every iterative family (pagerank/ppr/textrank rounds, peels and
  * fixpoints, DistRank's slice frame, per-level derivation pins) eagerly
  * pins each round's frame to truncate lineage and materialize once. The
  * default pin is `localCheckpoint(true)`: fast, but its blocks live only
  * on executors — on a real cluster, losing one executor makes every
  * later iteration unrecoverable (the fault-tolerance hole the pagerank
  * family documented since round 9). Setting the session conf
  *
  *   spark.graft.checkpointDir = hdfs://.../ckpt   (or any shared FS)
  *
  * switches every pin in the process to RELIABLE `checkpoint(true)` into
  * that directory — the recoverable shape a long-running 100 TB job
  * wants; executors can die and the round data re-reads from the
  * checkpoint store. Default (conf unset) behavior is bit-identical to
  * the old inline localCheckpoint calls; a PlanSpec parity test runs one
  * full pagerank member both ways.
  *
  * The SparkContext checkpoint dir is set once per context on first
  * reliable pin (setCheckpointDir mints a UUID subdir per call —
  * re-setting every round would scatter files across subdirs for nothing).
  *
  * '''Disk-lifetime requirement for reliable mode''': Spark never deletes
  * reliable checkpoint files on its own — the iterative families pin
  * every round, several queries per job, so a long 100 TB run
  * accumulates unbounded data under the checkpoint dir unless
  *
  *   spark.cleaner.referenceTracking.cleanCheckpoints = true
  *
  * is set in the SUBMIT-TIME SparkConf (ContextCleaner reads it at
  * SparkContext construction; setting it later is a no-op). With it, each
  * round's checkpoint files are GC'd when the pinned frame's RDD goes out
  * of scope. A one-time warning fires if reliable mode runs without it.
  */
object RoundPin {
  @volatile private var warnedCleaner = false

  def pin(df: DataFrame): DataFrame =
    if (reliable(df.sparkSession)) df.checkpoint(true) else df.localCheckpoint(true)

  /** True when `s` pins reliably ([[graft.Knobs.checkpointDir]] set); the
    * context's checkpoint dir is then set up, so a caller with its own pin
    * shape (Components' cache + `rdd.checkpoint()`) can checkpoint too. */
  private[graft] def reliable(s: SparkSession): Boolean =
    graft.Knobs.checkpointDir(s) match {
      case Some(dir) =>
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        if (!warnedCleaner && !sc.getConf.getBoolean(
            "spark.cleaner.referenceTracking.cleanCheckpoints", false)) {
          warnedCleaner = true
          System.err.println(
            "WARN RoundPin: reliable checkpoints enabled " +
              s"(${graft.Knobs.CheckpointDirKey}) without " +
              "spark.cleaner.referenceTracking.cleanCheckpoints=true in the " +
              "submit-time conf — iterative-round checkpoint files will " +
              "accumulate unbounded under " + dir)
        }
        true
      case None => false
    }
}
