package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, SparkSession}

import graft.mr.{Emit, KSV, KV, MapReduce}

/** One unit of work in a pass. `prepare` calls into the program and returns
  * the action that materialises the result. With `out` set, the action also
  * writes the result there as parquet, for the output check. */
trait Query {
  def name: String
  def prepare(s: SparkSession, out: Option[String]): () => Unit
}

/** A query from `SparkEntry.queries`, materialised through the noop sink as
  * `graft.Bench` does. */
final case class EntryQuery(name: String, sf: String) extends Query {
  def prepare(s: SparkSession, out: Option[String]): () => Unit = {
    val df = graft.SparkEntry.queries(name)(s, sf)
    out match {
      case None => () => df.write.format("noop").mode("overwrite").save()
      case Some(p) => () => df.write.mode("overwrite").parquet(p)
    }
  }
}

final case class Workload(name: String, queries: Seq[Query], conf: Map[String, String] = Map.empty)

object Workloads {
  /** A run repeats its pass for `--seconds` after a cold pass and before a
    * check pass, and must stay under a minute, so each list is a fixed, named
    * subset of its family, the same for every seed. */
  val SqlStar: Seq[String] = Seq(
    "q01_pricing_summary", "q03_broadcast_join_agg", "q09_count_distinct", "q11_cube",
    "q23_window_analytics", "q33_correlated_subquery", "a03_cms_heavy_hitters")

  val TextVector: Seq[String] = Seq(
    "t01_token_stats", "t17_bigram_ppl", "d04_simhash", "s01_cosine_topk", "s02_ann_lsh")

  /** One gate per write/commit class (HDFS-backed state store, RocksDB state
    * store, file store written per micro-batch), picked from measured
    * per-gate figures by `survey_gates.py`. */
  val StreamGates: Seq[String] = Seq(
    "st19_stream_drift", "st14_rocksdb_sessions", "st25_stream_filtered_serve")

  /** Rows of the in-memory sort buffer after which a shuffle sort spills.
    * The skewed job's hot task exceeds it; the other jobs' tasks do not. */
  val SpillRecords = 100000

  def apply(name: String, sf: String, corpus: String, work: String): Workload = name match {
    case "sql-star" => Workload(name, SqlStar.map(EntryQuery(_, sf)))
    case "text-vector" => Workload(name, TextVector.map(EntryQuery(_, sf)))
    case "stream-gates" => Workload(name, StreamGates.map(EntryQuery(_, sf)))
    case "mr-corpus" => Workload(name, Seq(
        MrWordCount(corpus, s"$work/mr_word_count"), MrSourceVocabulary(corpus),
        MrFirstOccurrence(corpus)),
      Map("spark.shuffle.spill.numElementsForceSpillThreshold" -> SpillRecords.toString))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Layer A jobs over the generated corpus. A corpus line is
  * `doc_id TAB source TAB words`, the words separated by single spaces. */
object Corpus {
  def lines(s: SparkSession, dir: String): RDD[String] = s.sparkContext.textFile(dir)
  def fields(line: String): (Long, Long, Array[String]) = {
    val a = line.split('\t')
    (a(0).toLong, a(1).toLong, a(2).split(' '))
  }
}

/** Word count over a high-cardinality vocabulary: mergeable reducer, no sort.
  * Runs through `MapReduce.write`. */
final case class MrWordCount(corpus: String, sink: String) extends Query {
  def name: String = "mr_word_count"
  def prepare(s: SparkSession, out: Option[String]): () => Unit = () =>
    MrWordCount.Job.write(s, Corpus.lines(s, corpus), out.getOrElse(sink))(
      Encoders.STRING, Encoders.scalaLong)
}

object MrWordCount {
  object Job extends MapReduce[String, String, Int, Long] {
    def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
      Corpus.fields(line)._3.iterator.map(w => KV(w, 1L))
    def reducer(w: String, ns: Iterator[Long]): IterableOnce[Emit[String, Int, Long]] =
      Iterator.single(KV(w, ns.sum))
  }
}

/** Distinct words per source: four overloaded keys, skewed toward source 0,
  * with the words arriving sorted by value so the reducer counts adjacent
  * changes. Runs through `MapReduce.runCollapsed`. */
final case class MrSourceVocabulary(corpus: String) extends Query {
  def name: String = "mr_source_vocabulary"
  def prepare(s: SparkSession, out: Option[String]): () => Unit = {
    val rdd = MrSourceVocabulary.Job.runCollapsed(Corpus.lines(s, corpus))
    () => {
      val rows = rdd.collect().map { case (k, n) => (k, n.toLong) }
      out.foreach(p => s.createDataFrame(rows.toSeq).toDF("source", "n_distinct_words")
        .write.mode("overwrite").parquet(p))
    }
  }
}

object MrSourceVocabulary {
  // V is the word on the way in and the count, as text, on the way out.
  object Job extends MapReduce[String, Long, String, String] {
    override def sortMapWithValue: Boolean = true
    def mapper(line: String): IterableOnce[Emit[Long, String, String]] = {
      val (_, src, ws) = Corpus.fields(line)
      ws.iterator.map(w => KV(src, w))
    }
    def reducer(k: Long, ws: Iterator[String]): IterableOnce[Emit[Long, String, String]] = {
      var n = 0L; var prev: String = null
      ws.foreach { w => if (prev == null || w != prev) { n += 1; prev = w } }
      Iterator.single(KV(k, n.toString))
    }
  }
}

/** First occurrence of every word, by a composite (doc_id, position) sort
  * element. Runs through `MapReduce.run`. */
final case class MrFirstOccurrence(corpus: String) extends Query {
  def name: String = "mr_first_occurrence"
  def prepare(s: SparkSession, out: Option[String]): () => Unit = {
    val rdd = MrFirstOccurrence.Job.run(Corpus.lines(s, corpus)).map { case (w, vs) =>
      (w, vs.head._1, vs.head._2)
    }
    out match {
      case None => () => rdd.count()
      case Some(p) => () => s.createDataFrame(rdd).toDF("word", "doc_id", "pos")
        .write.mode("overwrite").parquet(p)
    }
  }
}

object MrFirstOccurrence {
  object Job extends MapReduce[String, String, (Long, Int), (Long, Int)] {
    def mapper(line: String): IterableOnce[Emit[String, (Long, Int), (Long, Int)]] = {
      val (doc, _, ws) = Corpus.fields(line)
      ws.iterator.zipWithIndex.map { case (w, i) => KSV(w, (doc, i), (doc, i)) }
    }
    def reducer(w: String, vs: Iterator[(Long, Int)]): IterableOnce[Emit[String, (Long, Int), (Long, Int)]] = {
      val first = vs.next()
      Iterator.single(KSV(w, first, first))
    }
  }
}
