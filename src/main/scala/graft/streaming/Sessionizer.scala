package graft.streaming

import graft.sources.Schemas.{CleaningHistory, StatusSample}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** T1/T2/T3 — the reference's continuous monitor loop
  * (pipeline.py:108-196: poll every 60 s, remember previous status per
  * device, emit one CleaningRecord on the cleaning→idle edge) as a
  * Structured Streaming stateful transform.
  *
  * State per device = (previous state, start battery, start time) —
  * exactly the two dicts at pipeline.py:104-105, made fault-tolerant
  * by the checkpoint instead of being lost on restart.
  *
  * Scale: state is keyed by device and O(1) per key; the shuffle is on
  * device_name only. A million devices is a million tiny state rows —
  * far below state-store limits. Samples inside a micro-batch are
  * processed in event-time order per key.
  */
object Sessionizer {

  /** Keyed session state — the reference's `previous_states[dev]` +
    * `cleaning_start_battery[dev]` (pipeline.py:104-105). */
  case class SessionState(
      prevState: Option[String],
      startBattery: Option[Int],
      startTs: Option[java.sql.Timestamp],
      startFanPower: Option[String],
      startWaterLevel: Option[String],
      startMopMode: Option[String])

  object SessionState {
    val empty: SessionState = SessionState(None, None, None, None, None, None)
  }

  private def isCleaning(s: String): Boolean =
    graft.operators.Normalize.cleaningStates.contains(s.toLowerCase)
  private def isIdle(s: String): Boolean =
    graft.operators.Normalize.idleStates.contains(s.toLowerCase)

  /** Pure per-key step function — exercised directly by unit tests and
    * by the streaming wrapper below. Returns (emitted sessions, new
    * state). Mirrors pipeline.py:132-163:
    *  - start edge (pipeline.py:144-147): cleaning && no recorded
    *    start ⇒ capture battery/ts;
    *  - end edge (pipeline.py:150-154): prev was cleaning && now idle
    *    ⇒ emit the session, battery drain = start − end;
    *  - always: prev := current (pipeline.py:159).
    */
  def step(
      state: SessionState,
      samples: Seq[StatusSample]): (Seq[CleaningHistory], SessionState) = {
    var st = state
    val out = Seq.newBuilder[CleaningHistory]
    // Total order: FULL-precision ts (getTime is ms-truncated; getNanos
    // restores the sub-ms component so ordering matches the oracle's
    // ORDER BY ts), then the sample content as tie-break — arrival
    // order within a batch is shuffle-dependent, and a ts collision
    // must not make the emitted sessions (or which sample's
    // fanPower/errorCode they capture) nondeterministic.
    samples.sortBy(s => (s.ts.getTime, s.ts.getNanos, s.state, s.battery.getOrElse(-1),
        s.fanPower.getOrElse(""), s.waterLevel.getOrElse(""),
        s.mopMode.getOrElse(""), s.errorCode.getOrElse(-1)))
      .foreach { s =>
      // start edge
      if (isCleaning(s.state) && st.startBattery.isEmpty && st.startTs.isEmpty) {
        st = st.copy(
          startBattery = s.battery, startTs = Some(s.ts),
          startFanPower = s.fanPower, startWaterLevel = s.waterLevel,
          startMopMode = s.mopMode)
      }
      // end edge
      if (st.prevState.exists(isCleaning) && isIdle(s.state)) {
        val durationMin = st.startTs.map(t =>
          math.round((s.ts.getTime - t.getTime) / 1000.0 / 60.0 * 10) / 10.0)
        out += CleaningHistory(
          timestamp = s.ts,
          deviceName = s.deviceName,
          cleanTimeMin = durationMin,
          cleanAreaM2 = None, // area arrives with the detailed record sync (T5)
          batteryStart = st.startBattery,
          batteryEnd = s.battery,
          fanPower = st.startFanPower.orElse(s.fanPower),
          waterLevel = st.startWaterLevel.orElse(s.waterLevel),
          mopMode = st.startMopMode.orElse(s.mopMode),
          state = Some(s.state),
          errorCode = s.errorCode)
        st = st.copy(startBattery = None, startTs = None,
          startFanPower = None, startWaterLevel = None, startMopMode = None)
      }
      st = st.copy(prevState = Some(s.state))
    }
    (out.result(), st)
  }

  /** Streaming edge-detector: groupByKey(device).flatMapGroupsWithState
    * over [[step]]. Works identically over a batch Dataset (Spark runs
    * the same state function per key once). */
  def sessions(samples: Dataset[StatusSample])(
      implicit spark: SparkSession): Dataset[CleaningHistory] = {
    import spark.implicits._
    samples
      .groupByKey(_.deviceName)
      .flatMapGroupsWithState[SessionState, CleaningHistory](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it: Iterator[StatusSample], gs: GroupState[SessionState]) =>
          val st = gs.getOption.getOrElse(SessionState.empty)
          val (out, newSt) = step(st, it.toSeq)
          gs.update(newSt)
          out.iterator
      }
  }
}
