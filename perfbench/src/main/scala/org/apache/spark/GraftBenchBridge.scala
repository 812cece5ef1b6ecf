package org.apache.spark

/** The one package-private Spark hook the benchmark needs, opened the same
  * way the engine's `org.apache.spark.sql.GraftPlanBridge` opens planner
  * internals: listener events are delivered asynchronously, so the traced
  * run waits here until every posted event has reached its listeners before
  * it reads any counter. No sleeps, no lost tail events. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
