package graft.monitoring

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bridges Spark's streaming listener bus into the engine's event model
  * (SURVEY §2.6 maps M1/M3 to `StreamingQueryListener` + the event ADT):
  * query start becomes a ShardEvent(Started), query termination a
  * ShardEvent(Completed|Error). Spark's listener bus is already
  * non-blocking (M3's contract).
  *
  * Progress events carry no record counts: a query's `numInputRows` says
  * nothing about which records succeeded or were dead-lettered. The engine
  * emits the real per-batch counts itself (`BatchComplete`, under the same
  * `*` key), so a sink fed by both counts every record once.
  *
  * Attach with `spark.streams.addListener(new QueryListenerBridge(sink))`.
  */
final class QueryListenerBridge(sink: EventSink, streamName: String = "*")
    extends StreamingQueryListener {

  private def now: Long = System.currentTimeMillis()

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit =
    sink.emit(ProcessingEvent(now, streamName,
      ProcessingEventType.ShardEvent(ShardEventType.Started, Some(event.name))))

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = ()

  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit =
    sink.emit(ProcessingEvent(now, streamName,
      event.exception match {
        case Some(err) => ProcessingEventType.ShardEvent(ShardEventType.Error, Some(err))
        case None => ProcessingEventType.ShardEvent(ShardEventType.Completed, None)
      }))
}
