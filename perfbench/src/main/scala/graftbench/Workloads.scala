package graftbench

import scala.util.Random

/** The benchmark's workloads: named entries of `graft.SparkEntry.queries`,
  * and `graft.io.IngestLoop` driven over a store the benchmark writes
  * itself. The seed only orders and splits: it never changes the
  * generated tables, so every query's output is pinned. */
object Workloads {

  val etlCore: Seq[String] = Seq("q01_pricing_summary", "q04_filter_project",
    "q05_value_counts", "q06_group_describe", "q07_quartiles_outliers",
    "q08_median_impute", "q09_null_census", "q11_histogram", "q12_profile",
    "q18_parse_ops", "q19_classify")

  /** The stored ingest loop (`graft.io.IngestLoop`, the deployment form
    * of q106) as one unit of a pass: bootstrap, then every tick followed
    * by `compactIfNeeded`, on a fresh store root. */
  val IngestLoop = "ingest_loop"

  val curationTicks: Seq[String] = Seq("q114_image_admission", IngestLoop)

  /** The units of one pass of each workload: query keys and the loop. */
  val units: Map[String, Seq[String]] = Map(
    "etl_core" -> etlCore,
    "curation_ticks" -> curationTicks)

  val names: Seq[String] = units.keys.toSeq.sorted

  val ingestOps: Seq[String] =
    Seq("ingest_bootstrap", "ingest_tick", "ingest_compact")

  /** Every op any workload runs: the per-op metric names are the same
    * for every workload, and read 0 where a workload skips the op. */
  val allOps: Seq[String] =
    names.flatMap(units).flatMap(u => if (u == IngestLoop) ingestOps else Seq(u))

  /** The unit order of one pass: a seeded permutation, different for
    * every pass of a run. */
  def order(units: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(units)

  /** `doc_id mod BatchMod` classes: `corpus` seeds the store, each entry
    * of `ticks` is one tick's batch, in tick order. */
  final case class IngestSplit(corpus: Seq[Long], ticks: Seq[Seq[Long]])

  val CorpusClasses = 8
  val ClassesPerTick = 5

  def ingestSplit(seed: Long, batchMod: Long): IngestSplit = {
    val classes = new Random(seed).shuffle((0L until batchMod).toList)
    IngestSplit(classes.take(CorpusClasses).sorted,
      classes.drop(CorpusClasses).grouped(ClassesPerTick).toSeq)
  }
}
