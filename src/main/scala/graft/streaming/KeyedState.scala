package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The classic `flatMapGroupsWithState` wiring every keyed store here runs
  * on — the CDC prev-image folds and the text, media, semantic and Bloom
  * dedup stores alike. The handlers own their transitions; this owns only
  * the plan: Append mode, a processing-time timeout iff a TTL is set, and
  * optional initial state.
  */
private[streaming] object KeyedState {

  /** Migrated ([[StateMigration]]) or erasure-filtered ([[StateErasure]],
    * [[EraseEverywhere]]) state rows as the engine's initial-state input.
    */
  def seed[K: Encoder, S: Encoder](init: Dataset[(K, S)]) =
    init.groupByKey(_._1).mapValues(_._2)

  /** `f` over `grouped` on classic state; `initial` seeds a FRESH
    * checkpoint.
    */
  def classic[K: Encoder, V, S: Encoder, O: Encoder](
      grouped: KeyValueGroupedDataset[K, V], stateTtl: Option[String],
      initial: Option[Dataset[(K, S)]])(
      f: (K, Iterator[V], GroupState[S]) => Iterator[O]): Dataset[O] = {
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    initial match {
      case Some(init) => grouped.flatMapGroupsWithState(OutputMode.Append, timeout, seed(init))(f)
      case None       => grouped.flatMapGroupsWithState(OutputMode.Append, timeout)(f)
    }
  }
}
