package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** docs → entities (SURVEY.md §2.1 S2 first half).
  *
  * The whole decode is Column algebra (higher-order array functions), so it
  * stays inside whole-stage codegen and Parquet column pruning applies —
  * no UDFs, no RDDs. The typed `SpanCodec` is the single-row oracle for the
  * same transformation (round-trip tests assert agreement).
  */
object Extract {

  /** Spans of a given kind. */
  private def ofKind(spans: Column, kind: String): Column =
    filter(spans, s => s("kind") === kind)

  /** Decode the interleaved doc table to the entity view.
    * Input schema: (doc_id string, spans array<struct<kind,text,media_ref,
    * offset>>). */
  def entities(docs: DataFrame): DataFrame = {
    // `get` (0-based) is null-safe under ANSI mode, unlike element_at
    val meta = get(ofKind(col("spans"), "meta"), lit(0))("text")
    val metaParts = split(meta, " ")
    val coord = get(ofKind(col("spans"), "coord"), lit(0))("text")
    val coordParts = split(coord, " ")
    docs
      .where(meta.isNotNull)
      .select(
        get(metaParts, lit(0)).as("entity_kind"),
        get(metaParts, lit(1)).cast("long").as("id"),
        map_from_entries(transform(ofKind(col("spans"), "tag"), s =>
          struct(
            substring_index(s("text"), "=", 1).as("key"),
            s("text").substr(instr(s("text"), "=") + 1,
              length(s("text"))).as("value")))).as("tags"),
        get(coordParts, lit(0)).cast("double").as("lat"),
        get(coordParts, lit(1)).cast("double").as("lon"),
        transform(ofKind(col("spans"), "ref"),
          s => s("text").cast("long")).as("node_refs"),
        transform(ofKind(col("spans"), "member"), s => {
          val p = split(s("text"), " ")
          struct(
            get(p, lit(0)).as("role"),
            get(p, lit(1)).as("ref_kind"),
            get(p, lit(2)).cast("long").as("ref_id"))
        }).as("members"))
  }
}
