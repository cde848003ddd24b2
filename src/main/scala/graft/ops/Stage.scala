package graft.ops

import org.apache.spark.sql.DataFrame

import scala.collection.mutable.Buffer

/** The checkpointed scope of an operator stage. */
private[graft] object Stage {

  /** Run `stage`, which persists each frame it reads more than once and
    * appends it to `persisted`; materialize its result with an eager
    * `localCheckpoint`; then release every cache, also when the stage
    * fails. Spark rebuilds a frame once per subtree that references it,
    * so an unpersisted media decode would run once per reference; and
    * the checkpointed result's blocks are cleaned once the caller drops
    * it, where a persisted frame stays pinned until it is released.
    * Stages take `persisted` as a parameter so that specs can build
    * them without the checkpoint, which truncates the plan. */
  def checkpointed(stage: Buffer[DataFrame] => DataFrame): DataFrame = {
    val persisted = Buffer.empty[DataFrame]
    try stage(persisted).localCheckpoint(true)
    finally persisted.foreach(_.unpersist(blocking = false))
  }
}
