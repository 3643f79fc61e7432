package graft.events

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC change-event envelope.
  *
  * Typed Scala form of the reference's `ChangeEvent`
  * (`src/models/event.py:21-129`): event id, operation type
  * (INSERT/UPDATE/DELETE, `event.py:13-18`), table/keyspace, key and column
  * maps, Cassandra writetime micros, optional TTL, capture time. The
  * generic envelope keeps keys/columns as MapType(String,String) — a typed
  * per-table StructType is applied downstream via the schema registry
  * (SURVEY §1.1 row 1).
  */
final case class ChangeEvent(
    event_id: String,
    event_type: String, // INSERT | UPDATE | DELETE
    table_name: String,
    keyspace: String,
    partition_key: Map[String, String],
    clustering_key: Map[String, String],
    columns: Map[String, String],
    timestamp_micros: Long,
    ttl_seconds: Option[Long],
    captured_at_micros: Long) {

  /** Natural dedup key `keyspace.table:pk:ck:writetime`
    * (`src/models/event.py:124-129`). Key-map keys/values are
    * percent-escaped for the rendering's own delimiters, in parity with
    * [[ChangeEvent.eventKeyCol]] — see `mapCanonical` for why. */
  def eventKey: String = {
    def esc(s: String) =
      if (s == null) "%null%" // parity with mapCanonical's NULL sentinel
      else s.replace("%", "%25").replace("=", "%3D")
        .replace(",", "%2C").replace(":", "%3A")
    def flat(m: Map[String, String]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${esc(k)}=${esc(v)}" }
        .mkString(",")
    s"$keyspace.$table_name:${flat(partition_key)}:${flat(clustering_key)}:$timestamp_micros"
  }
}

object ChangeEvent {
  val EventTypes: Set[String] = Set("INSERT", "UPDATE", "DELETE")

  /** Envelope schema for `from_json` parsing of the JSON wire form
    * (`specs/001-secure-cdc-pipeline/contracts/event-schema.json`). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("event_id", StringType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("keyspace", StringType, nullable = false),
    StructField("partition_key", MapType(StringType, StringType), nullable = false),
    StructField("clustering_key", MapType(StringType, StringType), nullable = true),
    StructField("columns", MapType(StringType, StringType), nullable = true),
    StructField("timestamp_micros", LongType, nullable = false),
    StructField("ttl_seconds", LongType, nullable = true),
    StructField("captured_at_micros", LongType, nullable = false)))

  /** Parse a JSON-lines envelope column into typed envelope fields. */
  def parseEnvelope(df: DataFrame, jsonCol: String = "value"): DataFrame =
    df.select(from_json(col(jsonCol).cast("string"), envelopeSchema).as("e"))
      .select("e.*")

  /** Column expression of [[ChangeEvent.eventKey]] for set-based dedup —
    * same canonical form, computed inside codegen. Null maps (nullable
    * clustering_key) must render as an EMPTY slot ("ks.t:pk::ts"), not be
    * dropped — concat_ws silently skips null args, which would let distinct
    * keys collide. */
  def eventKeyCol: Column = concat_ws(":",
    concat_ws(".", col("keyspace"), col("table_name")),
    coalesce(mapCanonical(col("partition_key")), lit("")),
    coalesce(mapCanonical(col("clustering_key")), lit("")),
    col("timestamp_micros").cast("string"))

  /** Deterministic `k=v,...` rendering of a map column (sorted by key).
    * Keys and values are percent-escaped for the rendering's own
    * delimiters ('%' first, then '=', ',', ':') — without escaping,
    * a value containing a delimiter collides with a structurally
    * different key map (e.g. {u→"a:v=1"} vs {u→"a", v→"1"}), and the
    * upsert identity would silently merge distinct rows. Plain
    * alphanumeric values render unchanged. */
  private def esc(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
      "%", "%25"), "=", "%3D"), ",", "%2C"), ":", "%3A")

  /** NULL map values render as the unforgeable sentinel `%null%` (a real
    * value "%null%" escapes to "%25null%25"): a raw NULL would turn the
    * whole `k=v` element NULL, array_join would silently drop it, and
    * {u→"a", v→NULL} would collide with {u→"a"}. */
  private def mapCanonical(m: Column): Column =
    array_join(
      transform(array_sort(map_keys(m)),
        k => concat(esc(k), lit("="),
          coalesce(esc(element_at(m, k)), lit("%null%")))),
      ",")

  /** Envelope-level validation (`src/transform/validator.py:66-106`):
    * known event type, keyspace/table present, partition key non-empty,
    * DELETE must carry no regular columns (contract
    * `event-schema.json:73-89`). The first rule an envelope breaks, or
    * NULL for a valid one, so `count(invalidReason)` counts the invalid
    * rows. */
  def invalidReason: Column =
    // every predicate is explicitly null-safe: from_json yields NULL for
    // missing fields regardless of nullable=false, and a bare
    // `!isInCollection` evaluates to NULL on a NULL input — the `when`
    // would fall through and wave the broken event into the VALID output
    when(col("event_type").isNull ||
        !col("event_type").isInCollection(EventTypes),
        lit("unknown event_type"))
      .when(col("keyspace").isNull || col("table_name").isNull,
        lit("missing table identity"))
      .when(col("timestamp_micros").isNull || col("event_id").isNull,
        lit("missing event identity"))
      .when(col("partition_key").isNull || size(map_keys(col("partition_key"))) === 0,
        lit("empty partition_key"))
      .when(col("event_type") === "DELETE" &&
        size(map_keys(coalesce(col("columns"), map()))) > 0,
        lit("DELETE with columns"))

  /** Split `df` by [[invalidReason]]. Returns (valid, invalid-with-reason). */
  def validate(df: DataFrame): (DataFrame, DataFrame) = {
    val tagged = df.withColumn("_invalid_reason", invalidReason)
    (tagged.filter(col("_invalid_reason").isNull).drop("_invalid_reason"),
      tagged.filter(col("_invalid_reason").isNotNull))
  }
}
