package graft.operators

import org.apache.spark.sql.DataFrame

/** How the library kernels cut lineage at the relations they read more
  * than once: `df` is computed now (eager) and later reads scan the stored
  * rows instead of replaying its plan. With a checkpoint dir on the
  * session's SparkContext (`spark.checkpoint.dir` or `setCheckpointDir`,
  * the deployment's choice) this is a reliable `checkpoint()`, whose files
  * survive executor loss; without one it is a `localCheckpoint()` in
  * executor block storage, 10-100× cheaper but lost with its executor.
  * Both plan as the same RDD scan. */
private[operators] object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
