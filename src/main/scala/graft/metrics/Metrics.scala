package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Streaming conservation counters (reference A1: incoming_logs_total /
  * outgoing_logs_total / dropped_logs_total, METRICS.md:42) the Spark way:
  * `observe()` metrics evaluated inside the plan (no extra pass) and a
  * StreamingQueryListener that collects them per micro-batch, so the sink
  * can persist them with each commit (north rule: per-partition lineage +
  * metrics in the commit manifest — lineage comes from the manifest's
  * per-file rows, counters from here). */
object Metrics {

  /** Recent-batch entries retained in a Listener's byBatch view. */
  val RecentBatchWindow = 256

  val ObservationName = "graft_counters"
  val ErrorsObservationName = "graft_errors"

  /** Attach conservation counters to the event stream. */
  def observeEvents(events: DataFrame): DataFrame =
    events.observe(ObservationName,
      count(lit(1)).as("outgoing_events_total"),
      // DISTINCT is not allowed in observed metrics → HLL sketch instead
      approx_count_distinct(col("clip_id")).as("expanded_clips_approx"),
      sum(round(col("risk_score") * 10).cast("bigint")).as("risk_x10_total"))

  /** Labeled error counters on the clip stream — the analog of the
    * reference's processing_errors_total{error_type} (reference
    * internal/openreports/processor.go:24-38, :179-187). Labels become
    * metric-name suffixes (observed metrics are flat columns):
    * decode_error = a gated clip matched a rule whose payload JSON is
    * malformed, and the tolerant decode skipped that match. Counted from the
    * rule set's folded `decode_ok` flags with the match kernel — no JSON is
    * parsed. There is no shape_error label: a payload is decoded from typed
    * fields, and RulesSpec pins every rule's `decode_ok` to its JSON
    * validity, so well-formed JSON the struct decode rejects cannot occur. */
  def observeErrors(clips: DataFrame): DataFrame =
    clips.observe(ErrorsObservationName,
      sum(graft.operators.Pipeline.matchCount(graft.audio.Rules.all.filterNot(_.decodeOk)))
        .as("errors_decode_error_total"))

  /** Collects observed metrics per batchId; when `persistRoot` is given,
    * each batch's counters are also written as
    * `<root>/metrics/batch-<id>.json` beside the commit manifests (the
    * observed metrics only materialize AFTER the micro-batch completes, so
    * they cannot ride inside the manifest itself — the lineage/row counts
    * there are exact regardless).
    *
    * LIVE surface (the reference exposes its counters through the OTel
    * meter for scraping, METRICS.md; processor.go:47-53 — per-commit JSON
    * is queryable only post-hoc): cumulative [[totals]] accumulate across
    * batches while the query runs, and with `jmxName` set they are also
    * published as a platform-JMX MBean
    * (`graft:type=Counters,name=<jmxName>`, attribute `CountersJson`) —
    * scrapeable by any JMX agent with zero extra dependencies, registered
    * at construction and unregistered when a TRACKED query terminates.
    * `queryName` scopes a session-wide registration to one named query;
    * counters from distinct queries never conflate (dedup is per stable
    * query id), and only a tracked query's termination tears down the
    * MBean. */
  final class Listener(persistRoot: Option[String] = None,
                       jmxName: Option[String] = None,
                       queryName: Option[String] = None) extends StreamingQueryListener {
    val byBatch: TrieMap[Long, Map[String, Long]] = TrieMap.empty
    private val totalsMap = TrieMap.empty[String, Long]
    // queries whose progress this listener has recorded (the listener is
    // registered session-wide; an unrelated short-lived query must not
    // tear down this listener's JMX surface or pollute its counters)
    private val trackedIds = TrieMap.empty[java.util.UUID, Unit]
    // highest batchId already counted per stable query id: progress events
    // arrive in batch order within a query, so a replay (query restart
    // re-emitting its last batch) has batchId ≤ max and is skipped. One
    // Long per query instead of one entry per micro-batch — a year-long
    // 1-batch/s stream would otherwise grow the old (id, batchId) set to
    // ~31M driver-side entries. Entries deliberately SURVIVE termination:
    // a restart from the same checkpoint keeps the same stable id and
    // re-emits its last batch, and pruning here would double-count it —
    // growth is one Long per DISTINCT query id, i.e. per fresh-checkpoint
    // restart, not per batch.
    private val maxCounted = TrieMap.empty[java.util.UUID, Long]
    // ids whose START event carried the scoped name — a named query that
    // fails before its FIRST progress never enters trackedIds, and without
    // this its termination would leave the MBean (and this listener's
    // maps, pinned through it) registered for the JVM lifetime
    private val namedIds = TrieMap.empty[java.util.UUID, Unit]

    /** Cumulative counters across all completed batches so far — readable
      * at any time while the stream runs. */
    def totals: Map[String, Long] = totalsMap.readOnlySnapshot().toMap

    private[metrics] def countersJson: String =
      totals.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${'"'}$k${'"'}:$v" }.mkString("{", ",", "}")

    private val mbeanName = jmxName.map(n =>
      new javax.management.ObjectName(s"graft:type=Counters,name=$n"))
    mbeanName.foreach { on =>
      val mbs = java.lang.management.ManagementFactory.getPlatformMBeanServer
      if (mbs.isRegistered(on)) mbs.unregisterMBean(on) // replace a stale run
      mbs.registerMBean(new LiveCounters(this), on)
      ()
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (queryName.exists(n => e.name == n)) namedIds.put(e.id, ())
    // unregister only when a query THIS listener tracked terminates —
    // tracked via progress (trackedIds) or via a name-matched start event
    // (namedIds: covers a named query failing before its first progress).
    // The pre-progress fallback (any termination before the first tracked
    // progress) applies only when no queryName scopes the listener — the
    // single-query-per-process case, e.g. a forward job with no observed
    // metrics. With queryName set, an unrelated query dying before the
    // named query's first progress must not kill the scrape (and progress
    // re-registers the MBean if it ever does).
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val mine = trackedIds.contains(e.id) || namedIds.contains(e.id)
      if (mine || (queryName.isEmpty && trackedIds.isEmpty))
        mbeanName.foreach { on =>
          val mbs = java.lang.management.ManagementFactory.getPlatformMBeanServer
          if (mbs.isRegistered(on)) mbs.unregisterMBean(on)
        }
      // drop the terminated id from the liveness maps (a restart re-adds
      // via its start/progress events) so fresh-checkpoint restart loops
      // don't grow them for the JVM lifetime; maxCounted is NOT pruned —
      // see its comment (same-checkpoint restarts would double-count)
      trackedIds.remove(e.id)
      namedIds.remove(e.id)
      ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (queryName.exists(n => e.progress.name != n)) return
      val all = e.progress.observedMetrics.asScala
      val om = Seq(ObservationName, ErrorsObservationName).flatMap(all.get) match {
        case Nil => None
        case rows => Some(rows)
      }
      om.foreach { rows =>
        val observed = rows.flatMap { row =>
          row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
            f -> (if (row.isNullAt(i)) 0L else row.getLong(i))
          }
        }.toMap
        // A1 dropped_logs_total analog for streaming: late rows discarded
        // by the watermark, from the engine's state-operator metrics
        val dropped = e.progress.stateOperators
          .map(_.numRowsDroppedByWatermark).sum
        val m = observed + ("rows_dropped_by_watermark" -> dropped)
        trackedIds.put(e.progress.id, ())
        // self-heal the scrape surface: if an unscoped unregister (or an
        // external agent) removed the MBean, the next tracked progress
        // restores it
        mbeanName.foreach { on =>
          val mbs = java.lang.management.ManagementFactory.getPlatformMBeanServer
          if (!mbs.isRegistered(on)) { mbs.registerMBean(new LiveCounters(this), on); () }
        }
        byBatch.put(e.progress.batchId, m)
        // bounded recent-batch window — byBatch is a debugging/test view,
        // not the cumulative store; keep it from growing with stream age
        if (byBatch.size > RecentBatchWindow)
          byBatch.keys.toSeq.sorted.dropRight(RecentBatchWindow).foreach(byBatch.remove)
        // a replayed batchId (query restart re-emitting progress) must not
        // double-count the cumulative totals — first sighting only
        if (e.progress.batchId > maxCounted.getOrElse(e.progress.id, -1L)) {
          maxCounted.put(e.progress.id, e.progress.batchId)
          m.foreach { case (k, v) => totalsMap(k) = totalsMap.getOrElse(k, 0L) + v }
        }
        persistRoot.foreach { root =>
          val dir = java.nio.file.Paths.get(root, "metrics")
          java.nio.file.Files.createDirectories(dir)
          val json = m.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""$k":$v""" }
            .mkString(s"""{"batchId":${e.progress.batchId},"inputRows":${e.progress.numInputRows},""", ",", "}")
          java.nio.file.Files.write(dir.resolve(s"batch-${e.progress.batchId}.json"),
            json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    }
  }
}

/** JMX contract for a [[Metrics.Listener]]'s cumulative counters (standard
  * MBean convention: `FooMBean` interface + `Foo` implementation). One
  * string attribute keeps it consumable by any generic JMX agent. */
trait LiveCountersMBean { def getCountersJson: String }

final class LiveCounters(l: Metrics.Listener) extends LiveCountersMBean {
  override def getCountersJson: String = l.countersJson
}
