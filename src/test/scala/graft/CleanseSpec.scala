package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cleanse

/** Golden end-to-end test of the reference cleanse semantics
  * (SURVEY.md §5 item 2; edge cases per FIXTURES.md §1). */
class CleanseSpec extends AnyFunSuite {
  import TestSpark._

  private val cols = Seq("show_id", "type", "title", "director", "cast",
    "country", "date_added", "release_year", "rating", "duration",
    "listed_in", "description")

  private def fixture() = {
    import spark.implicits._
    Seq(
      // multi-country, first-match order; comma in title; Crime genre
      ("s1", "TV Show", "Breaking News, Live", "d", "c",
       "France, United Kingdom", "x", "2020", "TV-MA", "2 Seasons",
       "Crime TV Shows, Drama", "desc"),
      // quoted alias country; trailing-space year; unmatched genre
      ("s2", "TV Show", "The Crown", "d", "c", "\"England\"", "x",
       "2016 ", "TV-14", "4 Seasons", "British TV Shows, Drama", "desc"),
      // alias West Germany→Germany; Anime genre
      ("s3", "TV Show", "Dark", "d", "c", "West Germany", "x", "2017",
       "TV-MA", "3 Seasons", "Anime Series, Thriller", "desc"),
      // Movie row: dropped by the type filter
      ("s4", "Movie", "Some Film", "d", "c", "France", "x", "2019", "R",
       "90 min", "Dramas", "desc"),
      // non-European country only: dropped
      ("s5", "TV Show", "Lima Nights", "d", "c", "Peru", "x", "2018",
       "TV-PG", "1 Season", "Dramas", "desc"),
      // dirty year with letters; Kids genre; TV-G survives repair filter
      ("s6", "TV Show", "NoYear", "d", "c", "Spain", "x", "20x", "TV-G",
       "1 Season", "Kids' TV", "desc"),
      // year cleans to empty: dropped
      ("s7", "TV Show", "Empty Year", "d", "c", "Italy", "x", "xx", "R",
       "1 Season", "Dramas", "desc"),
      // null country: dropped
      ("s8", "TV Show", "Null Country", "d", "c", null, "x", "2020", "PG",
       "1 Season", "Comedy", "desc"),
      // non-whitelist rating → UNKNOWN/Desconocido; Reality → Documental
      ("s9", "TV Show", "Weird Rating", "d", "c", "Sweden", "x", "2019",
       "ZZ", "1 Season", "Reality TV", "desc"),
    ).toDF(cols: _*)
  }

  test("cleanseTitles matches the golden output row-for-row") {
    val out = Cleanse.cleanseTitles(fixture())
      .orderBy("show_id").collect().toSeq
    val expected = Seq(
      Row("s1", "Breaking News - Live", "France", 2020, "TV-MA",
          "Solo adultos", "Crime TV Shows", "Crime"),
      Row("s2", "The Crown", "United Kingdom", 2016, "TV-14",
          "Mayores de 14 años", "British TV Shows", "Other"),
      Row("s3", "Dark", "Germany", 2017, "TV-MA", "Solo adultos",
          "Anime Series", "Anime"),
      Row("s6", "NoYear", "Spain", 20, "TV-G", "Todo público",
          "Kids' TV", "Kids"),
      Row("s9", "Weird Rating", "Sweden", 2019, "UNKNOWN", "Desconocido",
          "Reality TV", "Documental"),
    )
    assert(out == expected)
  }

  test("cleanse output schema matches the reference projection") {
    assert(Cleanse.cleanseTitles(fixture()).columns.toSeq ==
      Seq("show_id", "title", "country", "release_year", "rating",
          "rating_meaning", "main_genre", "genre_group"))
  }

  test("cleanse round-trips through CSV like the reference pipeline") {
    withTempDir("graft_csv") { tmp =>
      fixture().write.mode("overwrite").option("header", "true").csv(tmp)
      val back = spark.read.option("header", "true")
        .option("inferSchema", "true").csv(tmp)
      val out = Cleanse.cleanseTitles(back).orderBy("show_id").collect()
      assert(out.length == 5)
      assert(out.map(_.getString(0)).toSeq ==
        Seq("s1", "s2", "s3", "s6", "s9"))
    }
  }

  test("europeCountry property: order of appearance wins") {
    import spark.implicits._
    val df = Seq(
      ("United Kingdom, France", "United Kingdom"),
      ("France, United Kingdom", "France"),
      ("  Scotland ", "United Kingdom"),
      ("Peru, Wales", "United Kingdom"),
      ("Peru, Chile", null),
      ("", null),
      ("\"West Germany\"", "Germany"),
    ).toDF("in", "want")
    val got = df.withColumn("got", Cleanse.europeCountry(col("in")))
      .filter(!(col("got") <=> col("want"))).count()
    assert(got == 0)
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)

  test("no UDF / python barrier in the cleanse plan") {
    val plan = Cleanse.cleanseTitles(fixture())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }
}
