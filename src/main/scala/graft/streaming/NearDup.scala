package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash NEAR-dup dedup — the one batch capability the
  * streaming layer didn't mirror ([[Sessions.dedupByContent]] is exact
  * content dedup; [[graft.text.IncrDedup]] is the batch incremental
  * near-dup): documents stream through signature banding, and each LSH
  * band keeps per-band state of the signatures seen, so a new doc is
  * flagged the moment it verifies (≥ 20 of 64 slots) against ANY
  * smaller-id doc sharing a band key.
  *
  * Semantics: the DIRECT-NEIGHBOR smaller-id rule (a doc drops iff some
  * smaller-id doc collides in a band and verifies) — the same rule
  * [[graft.text.IncrSemDedup]] applies per cell, chosen over connected
  * components because a stream must decide each doc AT ARRIVAL; under
  * id-monotone arrival (the ingest contract [[graft.text.IncrDedup]]
  * enforces loudly) the verdicts are deterministic and equal the batch
  * direct-neighbor dedup of the whole replayed corpus, which is what the
  * DuckDB oracle pins. Chains (a~b~c without a~c) differ from CC only in
  * WHICH cluster id survives, never in whether a doc with a verified
  * smaller neighbor drops.
  *
  * Scale/state posture (unbounded stream): state per band key = the
  * (id, signature) list of its members within the WATERMARK HORIZON —
  * band membership is near-dup-cluster-sized (¼-signature equality), so
  * state tracks duplicate density, not traffic; the event-time timeout
  * evicts a band once the watermark passes its last activity + the
  * horizon, the [[Sessions.dedupByContent]] contract (docs colliding
  * farther apart than the horizon are BOTH kept — the documented
  * streaming-dedup trade). Per-band work is |batch members| × |state|
  * signature compares — the same verify economics as the batch band
  * join, arriving incrementally.
  */
object NearDup {

  /** One exploded (band-key, doc, signature) stream row. `sig` is a
    * PRIMITIVE long array: the encoder reads the catalyst array<bigint>
    * with one unsafe bulk copy, where the previous `Seq[Long]` field paid
    * per-element boxing on every state-store round trip (round-18
    * measurement: the flatMapGroupsWithState object-serialization
    * boundary, not task count, dominated the replay's batch-0). */
  case class BandDoc(bk: String, doc_id: Long, sig: Array[Long], ts: Timestamp)

  /** Per-band state: members seen in the horizon and the max event-time
    * seen (for the timeout) — encoded as FLAT PRIMITIVE ARRAYS (`sigs` is
    * the members' signatures concatenated, stride = signature width), so
    * the per-batch state encode/decode is three unsafe array copies
    * instead of a per-member, per-slot object graph (the round-19 fix for
    * the serialization cost above; NearDupSpec pins stream == batch
    * verdicts unchanged). */
  case class BandState(ids: Array[Long], sigs: Array[Long], maxTsMs: Long)

  /** Per-band verdict for one doc: did it verify against a smaller-id
    * band-mate here? (OR over a doc's 16 band verdicts = the drop flag.) */
  case class BandVerdict(doc_id: Long, band_dup: Boolean)

  /** Per-(doc, band) dup verdicts for a streaming (doc_id, text, ts)
    * frame: portable MinHash signatures and band keys are the narrow
    * codegen maps of the batch path; each band's
    * `flatMapGroupsWithState` keeps the members seen and flags arrivals
    * that agree on at least 20 of the 64 slots. Aggregate
    * `max(band_dup)` per doc_id on the consumer side for the final keep
    * flag. */
  def bandVerdicts(docs: DataFrame,
      horizonMs: Long = 3600000L): Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    require(horizonMs > 0, "horizonMs must be positive")
    val sig: Column = graft.text.Dedup.minhashSignaturePortable(col("text"))
    docs
      .withColumn("sig", sig)
      .select(col("doc_id").cast("long").as("doc_id"), col("sig"),
        col("ts"),
        explode(graft.text.IncrDedup.bandKeys(col("sig"))).as("bk"))
      .select(col("bk"), col("doc_id"), col("sig"), col("ts"))
      .withWatermark("ts", s"$horizonMs milliseconds")
      .as[BandDoc]
      .groupByKey(_.bk)
      .flatMapGroupsWithState[BandState, BandVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, evts: Iterator[BandDoc], state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // micro-batches deliver a group unordered — process in id
            // order so in-batch verdicts match id-monotone arrival
            val sorted = evts.toSeq.sortBy(e => (e.doc_id, e.ts.getTime))
            val st = state.getOption.getOrElse(
              BandState(Array.emptyLongArray, Array.emptyLongArray, 0L))
            val nOld = st.ids.length
            // signature stride: from the state when it has members, else
            // from the first arrival (minhashSignaturePortable is fixed
            // 64-wide; the check fails loudly on a mixed-width stream
            // instead of corrupting the flat layout)
            val stride =
              if (nOld > 0) st.sigs.length / nOld
              else sorted.headOption.map(_.sig.length).getOrElse(0)
            val ids = java.util.Arrays.copyOf(st.ids, nOld + sorted.length)
            val sigs = java.util.Arrays.copyOf(st.sigs,
              (nOld + sorted.length) * stride)
            var count = nOld
            var maxTs = st.maxTsMs
            val out = Seq.newBuilder[BandVerdict]
            sorted.foreach { e =>
              require(e.sig.length == stride,
                s"bandVerdicts: signature width ${e.sig.length} != $stride")
              // a doc verifies iff some SMALLER-id member (prior state or
              // earlier in this batch — both already in the flat arrays)
              // agrees on >= 20 slots
              var j = 0
              var dup = false
              while (!dup && j < count) {
                if (ids(j) < e.doc_id) {
                  val base = j * stride
                  var i = 0
                  var n = 0
                  while (i < stride) {
                    if (sigs(base + i) == e.sig(i)) n += 1
                    i += 1
                  }
                  if (n >= 20) dup = true
                }
                j += 1
              }
              out += BandVerdict(e.doc_id, dup)
              ids(count) = e.doc_id
              System.arraycopy(e.sig, 0, sigs, count * stride, stride)
              count += 1
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update(BandState(ids, sigs, maxTs))
            state.setTimeoutTimestamp(maxTs + horizonMs)
            out.result().iterator
          }
      }
  }
}
