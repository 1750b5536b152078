package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.link.Resolve.{ConvState, Event, Resolver}
import graft.schema.{Mention, ResolvedRelation}

/** Streaming-native entity linking: the precedence-chain resolver as a
  * stateful streaming operator (`flatMapGroupsWithState` keyed by
  * conversation), for incremental ingestion of live transcripts.
  *
  * The batch resolver (link/Resolve) walks each conversation's sorted
  * events once through a `Resolver`. A stream cannot hold a conversation's
  * whole history, so here the resolver's state (the alias map and the
  * first definition) IS the group state: each micro-batch restores a
  * `Resolver` from it, feeds it the batch's mentions in turn order and
  * stores what the resolver holds afterwards. Same resolution function,
  * same output row as the batch path, so the results are the same when
  * events arrive in turn order, self-before-any-def included (asserted by
  * StatefulResolveSpec).
  *
  * Works on both streaming and batch Datasets (Spark executes
  * flatMapGroupsWithState with batch semantics on a static Dataset).
  */
object StatefulResolve {

  private def step(convId: String, rows: Iterator[Mention],
      state: GroupState[ConvState]): Iterator[ResolvedRelation] = {
    val r = state.getOption.fold(new Resolver)(new Resolver(_))
    // intra-batch arrival order is arbitrary -> restore turn order
    // (hop last: chain fan-out rows share (turn_idx, mention_idx)).
    // CONTRACT: this buffers ONE conversation's mentions OF ONE
    // micro-batch in executor memory — bounded by conversation length x
    // batch cadence, which transcripts bound by construction (the batch
    // path has no such per-group materialization). A source that can
    // deliver unbounded single-conversation batches must cap its batch
    // size (maxOffsetsPerTrigger or equivalent) before this operator.
    val out = rows.toSeq.sortBy(m => (m.turn_idx, m.mention_idx, m.hop)).flatMap(m =>
      r(Event(m.conv_id, m.turn_idx, m.mention_idx, m.hop, m.kind, m.subj, m.pred, m.obj)))
    state.update(r.state)
    out.iterator
  }

  def resolve(spark: SparkSession, mentions: Dataset[Mention]): Dataset[ResolvedRelation] = {
    import spark.implicits._
    mentions
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
  }
}
