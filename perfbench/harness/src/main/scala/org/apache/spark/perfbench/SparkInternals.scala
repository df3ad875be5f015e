package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run waits on it once,
  * after the last operation, so every job, stage, query-execution and
  * streaming-progress event has been delivered before spans are built. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** The block manager's local directories: where shuffle and spill files of
  * this run actually went (recorded, since the engine chooses it at
  * session start). */
object LocalDirsInUse {
  def apply(): Seq[String] =
    Option(org.apache.spark.SparkEnv.get).toSeq
      .flatMap(_.blockManager.diskBlockManager.localDirs.map(_.getAbsolutePath))
}
