package graft.operators

import org.apache.spark.sql.DataFrame

/** A streaming monitor as a value: the batch operator it mirrors,
  * split into a state it can maintain one micro-batch at a time.
  * [[graft.streaming.StreamGate.monitor]] replays a frame through it:
  * `feed` projects the frame to the columns the monitor reads, each
  * micro-batch of that feed is reduced with `seed` and merged into the
  * prior state with `fold`, and `readout` maps the final state to the
  * result.
  *
  * The correctness burden is on the monitor: `fold` must be associative
  * and commutative over `seed` outputs, so the micro-batch split cannot
  * change the final state. Every monitor shares its (seed, fold) pair
  * with the batch operator's own state, and its readout is that
  * operator's arithmetic over the state, so a replay is held to the
  * batch operator's oracle verbatim. `name` names the replay's temp
  * dirs and its errors. */
final case class FoldMonitor(
    name: String,
    feed: DataFrame => DataFrame,
    seed: DataFrame => DataFrame,
    fold: (DataFrame, DataFrame) => DataFrame,
    readout: DataFrame => DataFrame)
