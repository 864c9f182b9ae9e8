package org.apache.spark

/** Test access to `SparkContext.checkpointDir`, which has a setter but no
  * public way back to "unset": specs that set a checkpoint dir unset it
  * so later specs in the same JVM take the local checkpoint path again. */
object CheckpointDirs {
  def unset(sc: SparkContext): Unit = sc.checkpointDir = None
}
