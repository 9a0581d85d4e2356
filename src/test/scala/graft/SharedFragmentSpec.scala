package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Duplication tripwire for the sub-queries `graft.queries.OracleSql`
  * defines once for both engines: each fragment's signature line must
  * appear in exactly one file under `src/main/scala`. A hand copy pasted
  * into a query module (the way the cosine, shingle, bars and trade-graph
  * fragments used to drift apart) fails here; render from the shared
  * fragment instead.
  *
  * The same scan keeps multi-line codegen templates out of
  * `graft/functions`: each native expression's generated code is one call
  * to the kernel method its interpreted path runs, so the arithmetic
  * exists once. A `stripMargin` template there is a second copy of a
  * kernel body (and its '|'-leading lines were once silently eaten by
  * Spark's code-Block interpolator).
  */
class SharedFragmentSpec extends AnyFunSuite {

  private val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  private val fragments = Seq(
    "word-shingle CTEs (tok/sh/ds)" ->
      "generate_subscripts(string_split(text, ' '), 1) AS pos",
    "shingle-overlap CTEs (sizes/inter)" ->
      "sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id)",
    "lang-id marker scores" ->
      "len(list_intersect(list_distinct(string_split(text, ' '))",
    "quality-score inputs" ->
      "len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct",
    "sequential cosine" ->
      "i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)",
    "list_dot_product cosine" ->
      "list_dot_product($a, $b)",
    "hourly bars chain (h/w/bars)" ->
      "first_value(value) OVER (PARTITION BY event_type, hr_us",
    "trade-graph edge list (DuckDB)" ->
      "least(c.c_nationkey, s.s_nationkey) AS u",
    "trade-graph edge list (Spark)" ->
      """least(col("c_nationkey"), col("s_nationkey"))""")

  for ((name, signature) <- fragments)
    test(s"one definition per engine: $name") {
      val files = sources.collect { case (p, txt) if txt.contains(signature) => p }
      assert(files.size == 1,
        s"'$signature' appears in ${files.size} files (${files.mkString(", ")}); " +
          "render it from graft.queries.OracleSql instead of copying it")
    }

  test("no multi-line codegen template under graft/functions") {
    val dir = Paths.get("src/main/scala/graft/functions")
    val templated = sources.collect {
      case (p, txt) if p.startsWith(dir) && txt.contains("stripMargin") => p
    }
    assert(templated.isEmpty,
      s"stripMargin in ${templated.mkString(", ")}: generate a one-line call " +
        "to the kernel method nullSafeEval runs instead")
  }
}
