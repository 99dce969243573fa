package graft.perfbench

import graft.SparkEntry

/** The benchmark's named workloads: which `SparkEntry.queries` rows each
  * runs, over which data, and the seeded row order of every pass. */
object Workloads {
  /** `data` names the generated data directory the rows read; `warmup`
    * rows run once on sf0.001 during set-up; `mountTpcds` says whether
    * set-up mounts the TPC-DS fixture the rows query; `warmPasses` untimed
    * passes follow the verification pass, enough for the pass times to
    * level off as the JIT finishes compiling the rows' hot code. */
  final case class Workload(name: String, data: String, rows: Seq[String],
                            warmup: Seq[String], mountTpcds: Boolean, warmPasses: Int)

  /** Fixed row subsets, sized so that on a 4-core host a run fits set-up,
    * a verification pass, the warm-up passes and at least three timed
    * passes into about a minute: one pass takes about 4 s (`batch_sql`) and
    * 7-8 s (`stream_iterative`). Every row's oracle runs in DuckDB within a
    * second or two. */
  def all: Seq[Workload] = Seq(
    Workload("batch_sql", "sf0.1", Seq(
      // TPC-H: scan + agg (q1), join + agg (q3), large group-by +
      // semi-join (q18)
      "q1_agg", "q3_shipping_priority", "q18_large_volume",
      // TPC-DS texts: EXISTS profile (q10), rollup + rank (q67)
      "dsds_q10", "dsds_q67",
      // Flink SQL: DDL + INSERT into a filesystem sink
      "fsql_insert_sink"),
      Seq("q1_agg"), mountTpcds = true, warmPasses = 2),
    Workload("stream_iterative", "sf0.01", Seq(
      // bounded event-time streams, each a streaming query drained to
      // completion: SQL tumbling window on RocksDB state, a CDC changelog
      // through parquet relays, a CEP pattern over keyed state
      "fsql_stream_tumble", "cdc_pipeline", "cep_stream_error_burst",
      // driver-side loops of small jobs with lineage cuts
      "graph_community", "dedup_minhash_lsh"),
      Seq("stream_dedup_last"), mountTpcds = false, warmPasses = 0))

  def apply(name: String): Workload = {
    val w = all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name"))
    val missing = w.rows.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"$name names rows the engine lacks: $missing")
    w
  }

  /** Row order of pass `pass` under `seed`: a seeded shuffle, so the same
    * seed always replays the same sequence of passes. */
  def order(w: Workload, seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(w.rows.sorted)

  /** The engine module whose public constructor builds `row`: the layer
    * its build phase is attributed to. */
  def layer(row: String): String =
    owners.collectFirst { case (l, qs) if qs.contains(row) => l }.getOrElse("operators")

  private lazy val owners: Seq[(String, Map[String, SparkEntry.QFn])] = {
    import graft._
    Seq(
      "sql" -> sql.FlinkSqlQueries.queries,
      "graph" -> graph.Graphs.queries,
      "pipeline" -> (pipeline.Dedup.queries ++ pipeline.Similarity.queries ++
        pipeline.CorpusOps.queries ++ pipeline.TextAnalysis.queries ++
        pipeline.Multimodal.queries),
      "streaming" -> (streaming.StatefulOps.queries ++
        streaming.QueryableState.queries ++ streaming.Iterations.queries ++
        streaming.Triggers.queries ++ streaming.Cep.queries))
  }
}
