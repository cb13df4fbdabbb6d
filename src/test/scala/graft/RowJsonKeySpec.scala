package graft

import graft.functions.RowJsonKey
import graft.serialization.JsonEnvelope
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The byte-parsed routing key returns exactly what
  * `get_json_object(data, '$.<k>')` returns, on row objects written by
  * [[JsonEnvelope.obj]] and on malformed text (both null). Checked through
  * Spark (whole-stage codegen) and through the interpreted entry point. */
class RowJsonKeySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val rnd = new Random(41L)

  private val keys = Seq("id", "user_id", "k\"q", "é中")

  private val strings = Seq("", "a\"b", "back\\slash", "tab\tnl\ncr\r",
    (0 until 0x20).map(_.toChar).mkString, "\u007f", "é中ß", "😀𝄞", "﻿bom",
    """{"id":7,"nested":[1,{"x":null}]}""", "null", "42", "\\u0041", "/")

  private def value(): Any = rnd.nextInt(9) match {
    case 0 => Seq(0L, -1L, Long.MaxValue, Long.MinValue, 42L)(rnd.nextInt(5))
    case 1 => rnd.nextLong()
    case 2 => Seq(0.0, -0.0, 1.5, -2.25e-7, 1e7, 1.0e300, Double.MinPositiveValue,
      Double.MaxValue)(rnd.nextInt(8))
    case 3 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(600) - 300)
    case 4 => rnd.nextBoolean()
    case 5 => null
    case 6 => strings(rnd.nextInt(strings.size))
    case 7 => rnd.alphanumeric.take(rnd.nextInt(10)).mkString
    case _ => new String(Array.fill(rnd.nextInt(6))((0x20 + rnd.nextInt(0x2FFF)).toChar))
  }

  /** Rows over the key names and other names, with missing keys, JSON null,
    * duplicates (a null first, then a value) and every scalar kind. */
  private def row(): String = {
    val names = keys ++ Seq("x", "name", "id_", "ID")
    val fields = (0 until rnd.nextInt(7)).map(_ => names(rnd.nextInt(names.size)) -> value())
    JsonEnvelope.obj(fields)
  }

  private val malformed = Seq("", " ", "{", "}", "[1,2]", "1", "null", "\"id\"",
    """{"id":1""", """{"id":1,}""", """{"id" 1}""", """{id:1}""", """{'id':1}""",
    """{"id":01}""", """{"id":1.}""", """{"id":-}""", """{"id":.5}""", """{"id":1e}""",
    """{"id":+1}""", """{"id":tru}""", """{"id":nul}""", """{"id":truex}""",
    """{"id":"abc}""", """{"id":NaN}""", """{"id":1,"x":}""", """{"id":1,"x":[1,2,}}""",
    "{\"id\":\"\\uZZZZ\"}", """{"id":1 2}""", """{"id":1}}""", """{"id":"a"b"}""",
    """{"x":{"id":1},"id":}""", """{"id":[1,2]""", """{,"id":1}""", """{"id":1,,"x":2}""",
    // well formed, odd spacing or trailing text after the root object
    """ { "id" : 1 , "x" : 2 } """, """{"id":1} trailing""", "{\"id\"\t:\n\"v\"\r}",
    """{"id":"\q\/\"\\"}""", """{"x":{"a":[1,{"b":null}]},"id":2}""",
    """{"id":{"a":[1,true,"s"]}}""", """{"id":null,"id":3}""", """{"id":3,"id":4}""",
    "{\"id\":\"\\ud83d\\ude00\\u00e9\\u0041\"}", "{\"id\":\"\\ud83d\"}",
    "{\"id\":\"x\\ude00\"}", "{\"i\\u0064\":\"escaped name\"}",
    """{"id":true,"x":false}""", """{"id":"\q"}""", """{'id':1}""", """{'id':'v'}""",
    """{"id":'a"b'}""", """{"id":"it\'s"}""", """{"id":'it\'s'}""", """{"id":'open}""",
    """{"x":'}',"id":"after"}""", """{"id":"a'b"}""")

  /** Run `f` with codegen failures raised, not silently interpreted. */
  private def codegenOnly[T](f: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("row_json_key equals get_json_object on 20k JsonEnvelope.obj rows and malformed text") {
    import spark.implicits._
    val rows = Seq.fill(20000)(row()) ++ malformed
    // an RDD, not a local Seq: a local relation's projection is folded by
    // the optimizer's interpreter, and the codegen path must be the one read
    val df = spark.sparkContext.parallelize(rows, 4).toDF("data")
    var mismatches = 0
    val examples = Seq.newBuilder[String]
    keys.foreach { k =>
      val got = codegenOnly(df.select(col("data"),
          get_json_object(col("data"), "$." + k),
          RowJsonKey(col("data"), lit(k)))
        .collect())
      got.foreach { r =>
        val (data, want, codegen) = (r.getString(0), r.getString(1), r.getString(2))
        val interpreted = Option(RowJsonKey.find(UTF8String.fromString(data),
          UTF8String.fromString(k))).map(_.toString).orNull
        if (want != codegen || want != interpreted) {
          mismatches += 1
          if (mismatches <= 5) examples += s"key '$k' on $data: $want / $codegen / $interpreted"
        }
      }
    }
    info(s"${rows.size} rows x ${keys.size} keys, mismatches: $mismatches")
    assert(mismatches == 0, examples.result().mkString("\n"))
  }

  test("outside the row shape: non-canonical numbers and nested values come back as written") {
    def both(json: String): (String, String) = {
      import spark.implicits._
      val r = Seq(json).toDF("data")
        .select(get_json_object(col("data"), "$.id"), RowJsonKey(col("data"), lit("id")))
        .head()
      (r.getString(0), r.getString(1))
    }
    assert(both("""{"id":1E2}""") == ("100.0", "1E2"))
    assert(both("""{"id":-0}""") == ("0", "-0"))
    assert(both("""{"id":{"a" : [1, 2]}}""") == ("""{"a":[1,2]}""", """{"a" : [1, 2]}"""))
  }

  test("row_json_key reads the name per row and is null for a null input") {
    import spark.implicits._
    val df = Seq(("""{"a":"x","b":2}""", "a"), ("""{"a":"x","b":2}""", "b"),
      ("""{"a":"x"}""", null), (null, "a")).toDF("data", "k")
    val got = df.select(RowJsonKey(col("data"), col("k"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("x", "2", null, null))
  }
}
