package graft.sources

import org.apache.spark.sql.Dataset

/** The one in-session materialization primitive — the in-memory
  * counterpart of [[Scratch.ensure]]: every operator that cuts a
  * lineage or pins an intermediate does it here, so nothing a query
  * materializes outlives the query.
  *
  *  - `Materialize(ds, name)` is a `localCheckpoint`. The jobs the call
  *    runs (an eager one's whole build; a lazy one's shuffle stages,
  *    which adaptive execution runs while preparing the plan) carry
  *    the job description `materialize:<name>`, so a `QueryMetrics`
  *    record and Probe name the build. A lazy one's final pass runs
  *    inside the next action that reads it. The blocks live as long as
  *    a frame references the checkpoint; Spark's ContextCleaner
  *    releases them after that.
  *  - `Materialize.within(ds, name)(use)` pins a frame that `use`
  *    consumes only on the driver (an iterative fit re-reading one
  *    table). It persists (MEMORY_AND_DISK, through the CacheManager),
  *    runs `use` under the same label and unpersists when `use`
  *    returns or throws, so the cache is empty again after the call.
  */
object Materialize {

  def apply[A](ds: Dataset[A], name: String, eager: Boolean = true): Dataset[A] =
    labelled(ds, name)(ds.localCheckpoint(eager))

  def within[A, T](ds: Dataset[A], name: String)(use: Dataset[A] => T): T = {
    val pinned = ds.persist()
    try labelled(ds, name)(use(pinned))
    finally pinned.unpersist(blocking = false)
  }

  /** Run `body` with this thread's job description set to
    * `materialize:<name>`, then put the caller's back.
    */
  private def labelled[T](ds: Dataset[_], name: String)(body: => T): T = {
    val sc = ds.sparkSession.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"materialize:$name")
    try body finally sc.setJobDescription(prior)
  }
}
