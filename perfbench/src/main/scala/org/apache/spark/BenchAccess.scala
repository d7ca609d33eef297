package org.apache.spark

/** The two Spark internals the benchmark's tracer reads. They live in
  * Spark's package because both are `private[spark]`; neither changes
  * what the program does. */
object BenchAccess {

  /** Block until every event posted so far has reached every listener,
    * so a traced call's jobs, executions and stream progress are all
    * attributed before the next call starts. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Cached partitions held by locally checkpointed RDDs. */
  def localCheckpointBlocks(sc: SparkContext): Int = {
    val ids = sc.getPersistentRDDs.values
      .filter(_.checkpointData.exists(_.isInstanceOf[rdd.LocalRDDCheckpointData[_]]))
      .map(_.id).toSet
    if (ids.isEmpty) 0
    else sc.getRDDStorageInfo.filter(i => ids(i.id)).map(_.numCachedPartitions).sum
  }
}
