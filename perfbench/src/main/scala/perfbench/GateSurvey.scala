package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Measures every `st` gate on its own: one cold pass, one warm pass, and one
  * traced pass, whose per-layer metrics show where the gate's time goes. The
  * `stream-gates` pass is chosen from these figures (`survey_gates.py`).
  *
  * Usage: perfbench.GateSurvey SF_DIR WORK_DIR KEEP_DIR CPUS
  * Prints one `GATE {json}` line per gate.
  */
object GateSurvey {
  /** Records whether any state operator reported RocksDB's custom metrics. */
  final class StoreKind extends StreamingQueryListener {
    val rocksdb: mutable.Set[String] = mutable.Set()
    @volatile var gate = ""
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.stateOperators.exists(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))))
        synchronized(rocksdb += gate)
  }

  def main(args: Array[String]): Unit = {
    val Array(sf, work, keep, cpusArg) = args
    val cpus = cpusArg.toInt
    val spark = Session.open(cpus, work, keep, Map(
      "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[org.apache.hadoop.fs.local.CountingLocalFs].getName))
    Session.warmUp(spark, sf)
    val batches = new BatchListener
    val kind = new StoreKind
    spark.streams.addListener(batches)
    spark.streams.addListener(kind)
    val gates = graft.SparkEntry.queries.keys.filter(_.startsWith("st")).toSeq.sorted
    val runner = new Runner(spark, Workload("stream-gates", gates.map(EntryQuery(_, sf))), new Tracer)
    val probes = new Probes(spark, cpus, batches)
    gates.foreach { g =>
      kind.gate = g
      val q = Seq(EntryQuery(g, sf))
      val cold = runner.pass(s"cold-$g", q, None)
      val warm = runner.pass(s"warm-$g", q, None)
      val traced = runner.pass(s"traced-$g", q, Some(probes))
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      println("GATE " + Json(Map("gate" -> g, "cold_s" -> cold.wallS, "warm_s" -> warm.wallS,
        "rocksdb" -> kind.synchronized(kind.rocksdb.contains(g)),
        "failures" -> (cold.failures ++ warm.failures ++ traced.failures).size,
        "metrics" -> traced.extra.toMap)))
    }
    spark.stop()
  }
}
