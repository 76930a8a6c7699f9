package perfbench

import org.apache.spark.sql.SparkSession

/** Per-row cost of every registered `graft_*` function, beside the builtin
  * formulation where one exists. Each expression is bound to a fixed frame of
  * rows held in memory and evaluated through a generated projection, as a
  * query's projection would evaluate it, on one thread and outside any Spark
  * job, so the figure is the expression's own cost. The builtin results are
  * compared with the native ones row by row. */
object FnTable {
  val Rows = 500
  private val Seed = 7
  private val WarmUpNs = 150000000L
  private val Reps = 3

  /** Function name to the call on the frame's columns. */
  val Native: Seq[(String, String)] = Seq(
    "graft_dot" -> "graft_dot(v, w)",
    "graft_sumsq" -> "graft_sumsq(v)",
    "graft_minhash" -> "graft_minhash(sh)",
    "graft_minhash_bands" -> "graft_minhash_bands(sh)",
    "graft_shingles" -> "graft_shingles(text)",
    "graft_shingles5" -> "graft_shingles5(text)",
    "graft_lsh_bucket" -> "graft_lsh_bucket(v)",
    "graft_trigrams" -> "graft_trigrams(text)",
    "graft_trigrams_distinct" -> "graft_trigrams_distinct(text)",
    "graft_simhash32" -> "graft_simhash32(toks)",
    "graft_simhash64" -> "graft_simhash64(toks)",
    "graft_trigram_counts" -> "graft_trigram_counts(text)",
    "graft_trigram_hashes" -> "graft_trigram_hashes(text)",
    "graft_trigram_packed_counts" -> "graft_trigram_packed_counts(text)",
    "graft_trigram_packed" -> "graft_trigram_packed(text)",
    "graft_word_bigrams" -> "graft_word_bigrams(text)",
    "graft_rproj" -> "graft_rproj(v)",
    "graft_sq_dequantize" -> "graft_sq_dequantize(v, mins, maxs)",
    "graft_pq_reconstruct" -> "graft_pq_reconstruct(v, cb)",
    "graft_common_sorted" -> "graft_common_sorted(la, lb)")

  /** Builtin equivalents named by the roadmap's native-expression item. */
  val Builtin: Seq[(String, String)] = Seq(
    "graft_dot" -> "aggregate(zip_with(v, w, (x, y) -> x * y), 0D, (a, x) -> a + x)",
    "graft_sumsq" -> "aggregate(v, 0D, (a, x) -> a + x * x)",
    "graft_trigrams_distinct" ->
      "array_distinct(transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)))",
    "graft_shingles" ->
      ("array_distinct(transform(sequence(1, size(toks) - 2), " +
        "i -> concat_ws(' ', slice(toks, i, 3))))"))

  def run(s: SparkSession): Map[String, Double] = {
    graft.functions.VectorExpressions.register(s)
    val frame = s.sql(
      s"""SELECT text, split(lower(text), '\\\\s+') AS toks, graft_shingles(text) AS sh, v, w,
         |  array_sort(array_distinct(transform(sequence(1, 32), i -> cast(pmod(hash(id, i), 97) AS BIGINT)))) AS la,
         |  array_sort(array_distinct(transform(sequence(1, 32), i -> cast(pmod(hash(id, i, 1), 97) AS BIGINT)))) AS lb,
         |  transform(sequence(1, 64), i -> 0D) AS mins, transform(sequence(1, 64), i -> 1D) AS maxs,
         |  transform(sequence(1, 1024), i -> pmod(hash(i, $Seed), 1000) / 1000D) AS cb
         |FROM (SELECT id,
         |  concat_ws(' ', transform(sequence(1, 40), i -> concat('w', cast(pmod(hash(id, i, $Seed), 2000) AS STRING)))) AS text,
         |  transform(sequence(1, 64), i -> pmod(hash(id, i), 1000) / 1000D) AS v,
         |  transform(sequence(1, 64), i -> pmod(hash(i, id), 1000) / 1000D) AS w
         |  FROM range(0, $Rows, 1, 1))""".stripMargin)
    val input = frame.queryExecution.analyzed.output
    val rows = frame.queryExecution.toRdd.map(_.copy()).collect()

    def projection(sql: String) = {
      val e = frame.select(org.apache.spark.sql.functions.expr(sql)).queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project].projectList.head
      org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(Seq(
        org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference(e, input)))
    }
    def results(sql: String) = { val p = projection(sql); rows.map(r => p(r).copy()) }
    def nsPerRow(sql: String): Double = {
      val p = projection(sql)
      def once(): Long = {
        val t0 = System.nanoTime(); var i = 0
        while (i < rows.length) { p(rows(i)); i += 1 }
        System.nanoTime() - t0
      }
      // Until the JIT has compiled the loop: a fixed time, not a fixed count.
      var warm = 0L; var n = 0
      while (n < 3 || warm < WarmUpNs) { warm += once(); n += 1 }
      Stats.median((1 to Reps).map(_ => once().toDouble)) / rows.length
    }
    val expr = Native.toMap
    Map("fn.baseline.ns_per_row" -> nsPerRow("length(text)")) ++
      Native.map { case (n, e) => s"fn.$n.ns_per_row" -> nsPerRow(e) } ++
      Builtin.map { case (n, e) => s"fn.$n.builtin_ns_per_row" -> nsPerRow(e) } ++
      Builtin.map { case (n, e) =>
        s"fn.$n.builtin_matches" -> (if (results(e).sameElements(results(expr(n)))) 1.0 else 0.0)
      }
  }
}
