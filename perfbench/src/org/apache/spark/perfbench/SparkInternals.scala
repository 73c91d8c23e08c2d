package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two scheduler details the benchmark's tracer needs that Spark keeps
  * package-private: draining the listener bus at a phase boundary, and
  * the operator scopes of a stage's RDDs. */
object SparkInternals {

  /** Blocks until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Names of the physical operators whose RDDs the stage runs
    * (for example `Window`, `Sort`, `Exchange`). */
  def operatorScopes(info: StageInfo): Seq[String] =
    info.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
