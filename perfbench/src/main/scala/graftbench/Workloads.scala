package graftbench

import graft.hll.functions._
import graft.theta.functions._
import graft.kll.functions._
import graft.freq.functions._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{theta_union => _, _}

/** What a step's execute phase does with the DataFrame its construct phase
 * returned. */
sealed trait Sink
/** Run the whole plan without collecting it (the noop data source). */
case object Noop extends Sink
/** Write the frame as parquet under the run's work directory: the sketch
 * write path, whose output later steps read back. */
final case class Parquet(rel: String) extends Sink

/** Everything a step can read: the session, the generated inputs and the
 * run's work directory. */
final class Ctx(val spark: SparkSession, val input: String, val work: String)

/**
 * One step of a workload.
 *
 * @param module the graft module whose call the step times; per-layer
 *               metrics are attributed to it
 * @param oracle registry query (`graft.SparkEntry.oracleSql` key) whose
 *               DuckDB SQL must reproduce this step's output
 * @param kernel kernel throughput metric this step feeds, if any
 */
final case class Step(name: String, module: String, build: Ctx => DataFrame,
    sink: Sink = Noop, oracle: Option[String] = None, kernel: Option[String] = None)

final case class Workload(name: String, steps: Seq[Step], inputTables: Seq[String])

object Workloads {

  val Modules: Seq[String] = Seq("sources", "hll", "theta", "kll", "freq",
    "dedup", "similarity", "text", "operators", "streaming")

  private def registry(name: String): Ctx => DataFrame = {
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalStateException(s"registry query $name is missing"))
    c => fn(c.spark, c.input)
  }

  /** A registry query as a step, checked against the registry's own oracle. */
  private def query(name: String, module: String, registryName: String,
      kernel: Option[String] = None): Step =
    Step(name, module, registry(registryName), oracle = Some(registryName), kernel = kernel)

  private def scan(table: String): Step =
    Step(s"scan_$table", "sources", c => Tables.table(c.spark, c.input, table),
      kernel = Some("scan"))

  private def stored(c: Ctx, rel: String): DataFrame = c.spark.read.parquet(s"${c.work}/$rel")

  private def month(ts: String) = date_trunc("month", col(ts)).as("month")

  // ------------------------------------------------------------ sketch_rollup

  /** The sketch tables the update path writes and the merge path reads. */
  object Sketch {
    val Hll = "sketches/lineitem_hll"
    val EventsHll = "sketches/events_hll"
    val Theta = "sketches/orders_theta"
    val Kll = "sketches/lineitem_kll"
    val Freq = "sketches/lineitem_freq"

    /** Raw rows → HLL sketches per (flag, status, month). */
    def hllBuild(c: Ctx): DataFrame =
      Tables.lineitem(c.spark, c.input)
        .groupBy(col("l_returnflag"), col("l_linestatus"), month("l_shipdate"))
        .agg(hll_init_agg(col("l_partkey")).as("parts"),
          hll_init_agg(col("l_suppkey")).as("supps"))

    def eventsHllBuild(c: Ctx): DataFrame =
      Tables.events(c.spark, c.input)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(hll_init_agg(col("user_id")).as("users"))

    def thetaBuild(c: Ctx): DataFrame =
      Tables.orders(c.spark, c.input)
        .groupBy(month("o_orderdate"), col("o_orderpriority"))
        .agg(theta_init_agg(col("o_custkey")).as("custs"))

    def kllBuild(c: Ctx): DataFrame =
      Tables.lineitem(c.spark, c.input)
        .groupBy(month("l_shipdate"), col("l_returnflag"))
        .agg(kll_init_agg(col("l_extendedprice")).as("prices"))

    def freqBuild(c: Ctx): DataFrame =
      Tables.lineitem(c.spark, c.input)
        .groupBy(month("l_shipdate"))
        .agg(freq_init_agg(col("l_suppkey").cast("string")).as("supps"))

    /** Stored HLL sketches re-aggregated per return flag, plus the same
     * sketch transcoded to the GRAFT (postgres-hll style) format. */
    def hllMerge(c: Ctx): DataFrame =
      stored(c, Hll).groupBy(col("l_returnflag"))
        .agg(hll_merge(col("parts")).as("parts"), hll_merge(col("supps")).as("supps"))
        .select(col("l_returnflag"),
          hll_cardinality(col("parts")).as("n_parts"),
          hll_cardinality(col("supps")).as("n_supps"),
          hll_cardinality(hll_convert(col("parts"), "STRM", "GRAFT"), "GRAFT").as("n_parts_graft"))

    def thetaMerge(c: Ctx): DataFrame =
      stored(c, Theta).groupBy(col("o_orderpriority"))
        .agg(theta_union(col("custs")).as("custs"))
        .select(col("o_orderpriority"), theta_estimate(col("custs")).as("n_custs"))

    def kllMerge(c: Ctx): DataFrame =
      stored(c, Kll).groupBy(col("l_returnflag"))
        .agg(kll_merge(col("prices")).as("prices"))
        .select(col("l_returnflag"), kll_n(col("prices")).as("n"),
          kll_quantile(col("prices"), 0.5).as("p50"),
          kll_quantile(col("prices"), 0.99).as("p99"))

    def freqMerge(c: Ctx): DataFrame =
      stored(c, Freq).agg(freq_merge(col("supps")).as("supps"))
        .select(freq_stream_length(col("supps")).as("n"),
          explode(freq_items(col("supps"), 700L)).as("hh"))

    /** The merge path through the registered SQL names. */
    def sqlMerge(c: Ctx): DataFrame = {
      stored(c, EventsHll).createOrReplaceTempView("bench_events_hll")
      stored(c, Theta).createOrReplaceTempView("bench_orders_theta")
      val thetaUnion = graft.theta.ThetaFunctionRegistry.sqlName("theta_union")
      c.spark.sql(
        s"""SELECT e.event_type, hll_cardinality(hll_merge(e.users)) AS users,
          |  max(t.n) AS theta_total
          |FROM bench_events_hll e CROSS JOIN (
          |  SELECT theta_estimate($thetaUnion(custs)) AS n FROM bench_orders_theta) t
          |GROUP BY e.event_type""".stripMargin)
    }
  }

  val sketchRollup = Workload("sketch_rollup", Seq(
    scan("lineitem"), scan("orders"), scan("events"),
    Step("hll_build", "hll", Sketch.hllBuild, Parquet(Sketch.Hll), kernel = Some("hll.update")),
    Step("hll_build_events", "hll", Sketch.eventsHllBuild, Parquet(Sketch.EventsHll),
      kernel = Some("hll.update")),
    Step("theta_build", "theta", Sketch.thetaBuild, Parquet(Sketch.Theta),
      kernel = Some("theta.update")),
    Step("kll_build", "kll", Sketch.kllBuild, Parquet(Sketch.Kll), kernel = Some("kll.update")),
    Step("freq_build", "freq", Sketch.freqBuild, Parquet(Sketch.Freq),
      kernel = Some("freq.update")),
    Step("hll_merge", "hll", Sketch.hllMerge, kernel = Some("hll.merge")),
    Step("theta_merge", "theta", Sketch.thetaMerge),
    Step("kll_merge", "kll", Sketch.kllMerge),
    Step("freq_merge", "freq", Sketch.freqMerge),
    Step("sql_merge", "hll", Sketch.sqlMerge),
    query("q27_theta_supplier_sets", "theta", "q27_theta_supplier_sets"),
    // Sketch state through the streaming engine: per-day HLL windows in
    // RocksDB state, append mode. The streaming layer's only step.
    query("q116_streaming_hll_rocksdb", "streaming", "q116_streaming_hll_rocksdb")),
    inputTables = Seq("lineitem", "orders", "events"))

  // ------------------------------------------------------------- neardup_sf01

  val neardup = Workload("neardup_sf01", Seq(
    scan("documents"), scan("embeddings"),
    // The near-dup chain: exact dedup, MinHash signatures, LSH pairs,
    // connected components, keep-best, SimHash pairs, semantic dedup.
    query("exact", "dedup", "q13_dedup_exact"),
    Step("minhash_signatures", "dedup", c =>
      Tables.documents(c.spark, c.input).select(col("doc_id"),
        graft.dedup.Dedup.minhashSignature(graft.dedup.Dedup.shingles(col("text"), 10)).as("sig")),
      kernel = Some("dedup.signature")),
    query("jaccard_pairs", "dedup", "q14_dedup_minhash"),
    query("components", "dedup", "q23_dedup_components"),
    query("keep_best", "dedup", "q93_dedup_keep_best"),
    query("simhash_pairs", "dedup", "q15_dedup_simhash"),
    query("semantic_dedup", "similarity", "q84_semantic_dedup",
      kernel = Some("similarity.vectors")),
    // The text-prep chain on the same documents: scrub, statistics and
    // quality, language, BPE learn and encode, packing.
    query("html_strip", "text", "q52_html_strip", Some("text.scrub")),
    query("nfc_normalize", "text", "q53_nfc_normalize", Some("text.scrub")),
    query("pii_redaction", "text", "q51_pii_redaction", Some("text.scrub")),
    query("text_stats", "text", "q10_text_stats", Some("text.stats")),
    query("quality_filter", "text", "q85_quality_filter", Some("text.stats")),
    query("language_id", "text", "q11_text_langid", Some("text.stats")),
    query("bpe_learn", "text", "q91_bpe_learn"),
    query("bpe_encode", "text", "q186_bpe_encode", Some("text.bpe_encode")),
    query("pack_by_budget", "operators", "q39_sequence_packing", Some("operators.pack"))),
    inputTables = Seq("documents", "embeddings"))

  val all: Seq[Workload] = Seq(sketchRollup, neardup)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name; expected one of ${all.map(_.name).mkString(", ")}"))
}
