package graft

import org.apache.spark.sql.Row
import graft.operators.Normalize

/** Table-driven spec for the reference normalize semantics
  * (normalization.py:81-107; SURVEY.md §2.2 P3). */
class NormalizeSpec extends SparkSuite {
  import spark.implicits._

  private def normalize(lines: String*): Seq[Row] =
    Normalize.normalizeJsonLines(lines.toDF("value")).collect().toSeq

  test("explodes a JSON array line into one row per record") {
    val rows = normalize("""[{"_id":"a"},{"_id":"b"}]""")
    assert(rows.map(_.getAs[String]("_id")) == Seq("a", "b"))
  }

  test("keeps only whitelisted keys; missing keys are null") {
    val rows = normalize("""[{"_id":"a","evil":"x","amount":5}]""")
    assert(rows.head.getAs[String]("_id") == "a")
    assert(rows.head.getAs[String]("amount") == "5")
    assert(rows.head.getAs[String]("notes") == null)
    assert(!rows.head.schema.fieldNames.contains("evil"))
  }

  test("nested object value is stringified to its JSON text") {
    val rows = normalize("""[{"resource":{"b":1},"_id":"x"}]""")
    assert(rows.head.getAs[String]("resource") == """{"b":1}""")
  }

  test("nested values stringify to JSON text, not Python repr " +
    "(deviation from normalization.py:96-102, see Normalize.normValue)") {
    // reference would emit {'a': 1, 'ok': True, 'x': None}; the engine's
    // contract is the value's compact JSON text — double quotes, JSON
    // literals, no spaces
    val rows = normalize("""[{"resource":{"a":1,"ok":true,"x":null},"_id":"x"}]""")
    assert(rows.head.getAs[String]("resource") == """{"a":1,"ok":true,"x":null}""")
  }

  test("nested array value is stringified") {
    val rows = normalize("""[{"notes":[1,2,3],"_id":"x"}]""")
    assert(rows.head.getAs[String]("notes") == "[1,2,3]")
  }

  test("empty object becomes empty string (normalization.py:97-98)") {
    val rows = normalize("""[{"resource":{},"_id":"x"}]""")
    assert(rows.head.getAs[String]("resource") == "")
  }

  test("malformed line survives as null row (error-tolerant map)") {
    val rows = normalize("""not json at all""", """[{"_id":"ok"}]""")
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("_id")).toSet == Set(null, "ok"))
  }

  test("a key given twice in one record resolves to its last occurrence (json.loads)") {
    val rows = normalize("""[{"_id":"first","amount":1,"_id":"last"}]""")
    assert(rows.map(_.getAs[String]("_id")) == Seq("last"))
    assert(rows.head.getAs[String]("amount") == "1")
  }

  test("a JSON object root is no array of records: one null row") {
    val rows = normalize("""{"_id":"a","amount":5}""", """ {"_id":"b"}""")
    assert(rows.length == 2)
    assert(rows.forall(r => Normalize.whitelist.forall(r.getAs[String](_) == null)))
  }

  test("JSON whitespace before the array root still parses") {
    val rows = normalize("\t[{\"_id\":\"a\"}]", " \r\n [{\"_id\":\"b\"},{\"_id\":\"c\"}]")
    assert(rows.map(_.getAs[String]("_id")) == Seq("a", "b", "c"))
  }

  test("all 13 contract fields are present in order") {
    val rows = normalize("""[{"_id":"a"}]""")
    assert(rows.head.schema.fieldNames.toSeq == Normalize.whitelist)
  }

  test("typed projection casts numerics and keeps bad values null") {
    val df = Normalize.normalizeJsonLines(
      Seq("""[{"_id":"a","amount":42,"before":"oops","createdAt":"2024-01-01 00:00:00"}]""")
        .toDF("value"))
    val typed = Normalize.asBalanceLog(df).collect().head
    assert(typed.getAs[Long]("amount") == 42L)
    assert(typed.isNullAt(typed.fieldIndex("before")))
    assert(typed.getAs[java.sql.Timestamp]("createdAt") != null)
  }

  test("toJsonString serializes full rows (P1, retrieval.py:89-95)") {
    val out = Normalize.toJsonString(Seq((1, "x")).toDF("a", "b")).collect()
    assert(out.head.getString(0) == """{"a":1,"b":"x"}""")
  }
}
