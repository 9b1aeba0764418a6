package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's normalization stage (normalization.py:81-107) as
  * declarative Spark plans.
  *
  * Reference semantics, re-expressed:
  *  - each input line is a JSON *array* of records → parse + explode
  *    (normalization.py:89-90)
  *  - keep only the 13 whitelisted keys (normalization.py:91-95)
  *  - nested object/array values are stringified to their JSON text;
  *    an empty object becomes "" (normalization.py:96-102)
  *  - malformed lines become null rows instead of failing the pipeline
  *    (retrieval.py:104-113 error-tolerant map → PERMISSIVE from_json)
  *
  * Implementation: each line parses straight into an array of the
  * 13-field string struct, and Spark's JSON reader stringifies any
  * non-scalar value of a string field to compact JSON text natively —
  * the whole stage is built-in expressions, no UDF, and keys outside
  * the whitelist are skipped unread. A key given twice in one record
  * resolves to its last occurrence, as `json.loads` does.
  */
object Normalize {

  /** The one real schema in the reference — the balance-log contract
    * (normalization.py:91-92). */
  val whitelist: Seq[String] = Seq(
    "_id", "accountId", "creatorId", "creatorName", "resourceName",
    "resource", "type", "amount", "before", "after", "notes",
    "executeAt", "createdAt")

  private val lineSchema =
    ArrayType(StructType(whitelist.map(StructField(_, StringType))))

  /** Stringify-nested rule: JSON object/array values arrive as their
    * JSON text from the parse; the empty object becomes "".
    *
    * DELIBERATE DEVIATION from the reference: normalization.py:96-102
    * stringifies nested values with Python `str()`, producing Python
    * repr text (`{'a': 1}`, `True`, `None`); this engine emits the
    * value's compact JSON text (`{"a":1}`, `true`, `null`). JSON text
    * is the contract here because it is machine-parseable downstream
    * and identical across engines — Python repr is neither (its quote
    * and literal spelling are CPython implementation detail). Pinned by
    * NormalizeSpec ("nested values stringify to JSON text, not Python
    * repr"). */
  private def normValue(v: Column): Column =
    when(v === "{}", lit("")).otherwise(v)

  /** Lines of JSON arrays → one row per record, 13 whitelisted string
    * columns. Malformed lines yield a single all-null row (PERMISSIVE),
    * which callers can drop with `.na.drop("all", whitelist)`. */
  def normalizeJsonLines(lines: DataFrame, column: String = "value"): DataFrame = {
    val line = col(column)
    // Spark reads a JSON object root as a one-record array when the
    // element type is a struct; an object root is no array of records
    // and stays a null row, so only a root that is an array (after
    // JSON whitespace) parses
    val arrayRoot = line.startsWith("[") || line.rlike("^[ \\t\\n\\r]*\\[")
    val parsed = lines
      .select(explode_outer(when(arrayRoot, from_json(line, lineSchema))).as("rec"))
    parsed.select(whitelist.map(k =>
      normValue(col("rec").getField(k)).as(k)): _*)
  }

  /** Typed variant: the balance-log fact table with proper numeric /
    * timestamp types (SURVEY.md §1 type table). Unparseable numerics
    * become null via try_cast-like ANSI-safe casts. */
  def asBalanceLog(normalized: DataFrame): DataFrame =
    normalized.select(
      col("_id"),
      col("accountId"),
      col("creatorId"),
      col("creatorName"),
      col("resourceName"),
      col("resource"),
      col("type"),
      tryCastLong("amount").as("amount"),
      tryCastLong("before").as("before"),
      tryCastLong("after").as("after"),
      col("notes"),
      expr("try_cast(executeAt AS TIMESTAMP)").as("executeAt"),
      expr("try_cast(createdAt AS TIMESTAMP)").as("createdAt"))

  // takes the column NAME (backtick-quoted into SQL) — stringifying a
  // Column via toString is not re-parseable in general
  private def tryCastLong(name: String): Column =
    expr(s"try_cast(`$name` AS BIGINT)")

  /** P1 (retrieval.py:89-95): record → JSON string with non-JSON types
    * coerced to strings (`default=str`); Spark's to_json handles
    * timestamps/decimals natively. */
  def toJsonString(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("json"))

  /** P2 (retrieval.py:104-113): error-tolerant validate-roundtrip — a
    * JSON string column parsed against a schema; bad rows become null
    * rather than failing (PERMISSIVE mode). */
  def validateJson(df: DataFrame, column: String, schema: StructType): DataFrame =
    df.withColumn("parsed", from_json(col(column), schema))
}
