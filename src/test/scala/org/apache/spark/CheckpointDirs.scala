package org.apache.spark

/** Sets a context's checkpoint directory exactly, `None` included:
  * `setCheckpointDir` always creates a fresh subdirectory, so it cannot
  * restore a saved value (the field is package-private). */
object CheckpointDirs {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
