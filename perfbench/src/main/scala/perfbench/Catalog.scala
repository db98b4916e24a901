package perfbench

/** Every metric the benchmark prints, with its unit. The per-layer metrics
  * also name the end-to-end metric each should move and the workload it
  * moves on; the traced run prints this mapping next to the values. */
object Catalog {

  final case class Metric(name: String, unit: String, moves: String = "", on: String = "")

  val EndToEnd: Seq[Metric] = Seq(
    Metric("items_per_s", "items/s"),
    Metric("op_p50_s", "s"),
    Metric("op_tail_s", "s"),
    Metric("setup_s", "s"),
    Metric("peak_rss_mb", "MB"),
    Metric("stored_bytes_per_item", "B/item"),
    Metric("ok_frac", "ratio"))

  private val PR = "proto_report"
  private val TI = "text_ingest"

  private def ext(group: String, on: String): Seq[Metric] = Seq(
    Metric(s"ext.$group.jobs", "count", "op_p50_s", on),
    Metric(s"ext.$group.busy_s", "s", "op_p50_s", on))

  val PerLayer: Seq[Metric] = Seq(
    Metric("plan.compile_s", "s", "op_p50_s", PR),
    Metric("io.decode_rows_per_s", "rows/s", "items_per_s", PR),
    Metric("io.fields_skipped_frac", "ratio", "items_per_s", PR),
    Metric("io.rows_gated_frac", "ratio", "items_per_s", PR),
    Metric("io.avro_write_s", "s", "op_p50_s", PR),
    Metric("io.json_write_s", "s", "op_p50_s", PR),
    Metric("io.avro_bytes_per_row", "B/row", "stored_bytes_per_item", PR),
    Metric("io.json_bytes_per_row", "B/row", "stored_bytes_per_item", PR),
    Metric("streaming.batch_overhead_s", "s", "op_p50_s", TI)) ++
    ext("neardup", TI) ++ ext("substr", TI) ++ ext("lm", TI) ++ ext("manifest", TI) ++ Seq(
    Metric("ext.append_growth", "ratio", "op_tail_s", TI),
    Metric("ext.store_files_per_batch", "count", "stored_bytes_per_item", TI),
    Metric("ext.bytes_written_per_doc", "B/doc", "op_p50_s", TI),
    Metric("spark.jobs_per_op", "count", "op_p50_s", TI),
    Metric("spark.driver_idle_frac", "ratio", "op_p50_s", TI),
    Metric("spark.executor_busy_s", "s", "items_per_s", PR),
    Metric("spark.tasks_per_op", "count", "items_per_s", PR),
    Metric("spark.input_bytes_per_op", "B", "op_p50_s", TI),
    Metric("spark.shuffle_bytes_per_op", "B", "op_p50_s", TI),
    Metric("spark.spill_bytes_per_op", "B", "op_p50_s", TI),
    Metric("spark.gc_s_per_op", "s", "op_tail_s, peak_rss_mb", "all"),
    Metric("trace.overhead_frac", "ratio", "", "all"))

  val Workloads: Seq[String] = Seq(PR, TI)
}
