package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** Golden unit tests for the §2.6 scalar kernel — expected values are the
  * reference implementation's own outputs (etl.py / scraper.py examples). */
class CleaningSpec extends SparkSpec {
  import Cleaning._

  private def eval1(fn: Column => Column, input: Any): Any = {
    import spark.implicits._
    val df = input match {
      case s: String => Seq(Option(s)).toDF("c")
      case null      => Seq(Option.empty[String]).toDF("c")
      case other     => throw new IllegalArgumentException(other.toString)
    }
    df.select(fn(col("c")).as("r")).collect()(0).get(0)
  }

  test("cleanText: trim, collapse, sentinel null-out (etl.py:99-106)") {
    assert(eval1(cleanText, "  a   b  ") == "a b")
    assert(eval1(cleanText, "NaN") == null)
    assert(eval1(cleanText, "none") == null)
    assert(eval1(cleanText, "NULL") == null)
    assert(eval1(cleanText, "   ") == null)
    assert(eval1(cleanText, null) == null)
    assert(eval1(cleanText, "ok") == "ok")
  }

  test("parsePriceToNumber (etl.py:109-118)") {
    assert(eval1(parsePriceToNumber, "₹ 78,000/Piece") == 78000.0)
    assert(eval1(parsePriceToNumber, "₹ 1,23,456.50/Unit") == 123456.5)
    assert(eval1(parsePriceToNumber, "Ask Price") == null)
    assert(eval1(parsePriceToNumber, "Get Quote") == null)
    assert(eval1(parsePriceToNumber, "no digits here") == null)
    assert(eval1(parsePriceToNumber, null) == null)
    assert(eval1(parsePriceToNumber, "90") == 90.0)
  }

  test("extractPriceUnit (etl.py:121-126)") {
    assert(eval1(extractPriceUnit, "₹ 78,000/Piece") == "Piece")
    assert(eval1(extractPriceUnit, "₹ 500/ piece") == "Piece")
    assert(eval1(extractPriceUnit, "₹ 500") == null)
    assert(eval1(extractPriceUnit, null) == null)
  }

  test("isValidUrl (etl.py:129-137)") {
    assert(eval1(isValidUrl, "https://example.com/x") == true)
    assert(eval1(isValidUrl, "http://example.com") == true)
    assert(eval1(isValidUrl, "HTTPS://EXAMPLE.COM") == true)
    assert(eval1(isValidUrl, "ftp://example.com") == false)
    assert(eval1(isValidUrl, "example.com") == false)
    assert(eval1(isValidUrl, "https://") == false)
    assert(eval1(isValidUrl, null) == false)
  }

  test("cleanPhoneDigits + sha256Hash (etl.py:140-152)") {
    assert(eval1(cleanPhoneDigits, "+91 98765-43210") == "919876543210")
    assert(eval1(cleanPhoneDigits, "no digits") == null)
    assert(eval1(cleanPhoneDigits, null) == null)
    // sha256("indiamart_etl_salt::12345") — reference formula f"{salt}::{value}"
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("indiamart_etl_salt::12345".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(eval1(c => sha256Hash(c), "12345") == expected)
    assert(eval1(c => sha256Hash(c), null) == null)
  }

  test("normalizeKeyword typo fixes (etl.py:155-166)") {
    assert(eval1(normalizeKeyword, "  LED   TV ") == "led tv")
    assert(eval1(normalizeKeyword, "Bakery Oven,") == "bakery oven")
    assert(eval1(normalizeKeyword, "Wet & Dry Vacuum Cleaner") == "wet and dry vacuum cleaner")
    assert(eval1(normalizeKeyword, "built-in dishwasher") == "built in dishwasher")
    assert(eval1(normalizeKeyword, "semi automatic washing machine") == "semi-automatic washing machine")
  }

  test("normalizeCityState (etl.py:169-175)") {
    assert(eval1(c => normalizeCityState(c), "tamilnadu") == "Tamil Nadu")
    assert(eval1(c => normalizeCityState(c), "chennai") == "Chennai")
    assert(eval1(c => normalizeCityState(c), null) == null)
  }

  test("supplierRegionFromState (etl.py:178-197)") {
    assert(eval1(supplierRegionFromState, "Tamil Nadu") == "South")
    assert(eval1(supplierRegionFromState, "GUJARAT") == "West")
    assert(eval1(supplierRegionFromState, "Delhi") == "North")
    assert(eval1(supplierRegionFromState, "Assam") == "East")
    assert(eval1(supplierRegionFromState, "Atlantis") == "Other/Unknown")
    assert(eval1(supplierRegionFromState, null) == "Unknown")
  }

  test("priceBucket on winsorized price (etl.py:200-207)") {
    import spark.implicits._
    val df = Seq(Option(5000.0), Option(10000.0), Option(49999.0), Option(50000.0), None)
      .toDF("p")
    val got = df.select(priceBucket(col("p")).as("b")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("Low (<10k)", "Mid (10k-50k)", "Mid (10k-50k)", "High (50k+)", "Unknown"))
  }

  test("toNumeric coerce (etl.py:288-293)") {
    assert(eval1(toNumericDouble, "3.7") == 3.7)
    assert(eval1(toNumericDouble, "junk") == null)
    assert(eval1(toNumericLong, "2860000000000") == 2860000000000L)
  }

  test("decodeIsq (scraper.py:263-280 example)") {
    import spark.implicits._
    val raw = "Brand%3ADaikin%23Capacity%3A2.8%20kW%23Type%3ASplit%20Ac"
    val m = Seq(raw).toDF("c").select(decodeIsq(col("c")).as("m"))
      .collect()(0).getMap[String, String](0)
    assert(m == Map("Brand" -> "Daikin", "Capacity" -> "2.8 kW", "Type" -> "Split Ac"))
    val flat = Seq(raw).toDF("c").select(isqFlatten(decodeIsq(col("c"))).as("f"))
      .collect()(0).getString(0)
    assert(flat == "Brand=Daikin; Capacity=2.8 kW; Type=Split Ac")
    // partless entries are skipped, first-colon split, values keep colons
    val odd = java.net.URLEncoder.encode("junk#K:a:b# :x#Empty:", "UTF-8")
    val m2 = Seq(odd).toDF("c").select(decodeIsq(col("c")).as("m"))
      .collect()(0).getMap[String, String](0)
    assert(m2 == Map("K" -> "a:b", "Empty" -> ""))
    // a repeated key (also one that only trimming makes repeat) keeps its
    // first position and its last value, as a Python dict does, under
    // the session's default map-key policy
    val dup = java.net.URLEncoder.encode("K:1#J:2# K :3#J", "UTF-8")
    val flat2 = Seq(dup).toDF("c").select(isqFlatten(decodeIsq(col("c"))).as("f"))
      .collect()(0).getString(0)
    assert(flat2 == "K=3; J=2")
  }

  test("shortLabel (analysis.py:81-85)") {
    assert(eval1(c => shortLabel(c), "short") == "short")
    assert(eval1(c => shortLabel(c), "exactly eighteen c") == "exactly eighteen c")
    assert(eval1(c => shortLabel(c), "a very long product label here") == "a very long produ…")
  }

  test("formatInr / displayCell (analysis.py:87-93, utils.py:15-32)") {
    import spark.implicits._
    val got = Seq(Option(78000.0), None).toDF("p")
      .select(formatInr(col("p")).as("f")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("₹78,000", "NA"))
    assert(eval1(displayCell, "nan") == "—")
    assert(eval1(displayCell, "ok") == "ok")
  }

  test("pyTitle matches Python str.title() edge cases") {
    assert(eval1(pyTitle, "o'brien traders") == "O'Brien Traders")
    assert(eval1(pyTitle, "2nd avenue") == "2Nd Avenue")
    assert(eval1(pyTitle, "ABC pvt ltd") == "Abc Pvt Ltd")
  }

  test("toSnakeCase (etl.py:92-96)") {
    assert(toSnakeCase("Search Keyword") == "search_keyword")
    assert(toSnakeCase("  Price (INR)  ") == "price_inr")
  }

  test("canonicalUrl: all five noise classes collapse; path case and real params survive") {
    def c(u: String) = eval1(canonicalUrl, u)
    // scheme/host case + www + fragment + tracking + trailing slash
    assert(c("HTTPS://WWW.Foo.COM/A/B/?utm_source=x&id=7&fbclid=z#frag")
      === "https://foo.com/A/B?id=7")
    // path case is PRESERVED; parameter order of survivors preserved
    assert(c("https://foo.com/CaseSensitive?b=2&utm_medium=m&a=1")
      === "https://foo.com/CaseSensitive?b=2&a=1")
    // bare host, no path/query — unchanged modulo case
    assert(c("HTTP://Example.ORG") === "http://example.org")
    // only tracking params -> no query string at all
    assert(c("https://foo.com/x?utm_source=a&gclid=b") === "https://foo.com/x")
    // idempotent: canonical of canonical is itself
    assert(c("https://foo.com/A/B?id=7") === "https://foo.com/A/B?id=7")
    // www on a non-http scheme is NOT stripped (ftp://www.x is a real host)
    assert(c("ftp://www.Files.NET/pub/") === "ftp://www.files.net/pub")
  }
}
