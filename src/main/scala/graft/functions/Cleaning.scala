package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** The reference's ETL cleaning kernel (SURVEY.md §2.6) as pure
  * `Column => Column` expressions.
  *
  * Every function here is a native Catalyst expression chain — no UDFs on
  * the scale path, so the whole kernel stays inside WholeStageCodegen and
  * is pushdown/prune-friendly. The single exception is [[pyTitle]], a tiny
  * UDF kept ONLY for byte-exact golden parity with Python `str.title()`
  * in tests; production code uses `initcap`.
  */
object Cleaning {

  /** Tokens the reference treats as missing (etl.py:99-106). */
  private val NullTokens = Seq("nan", "none", "null", "")

  /** clean_text (etl.py:99-106): trim, collapse inner whitespace,
    * null-out the NaN-ish sentinel tokens case-insensitively. */
  def cleanText(c: Column): Column = {
    val collapsed = trim(regexp_replace(c.cast(StringType), "\\s+", " "))
    when(collapsed.isNull || lower(collapsed).isin(NullTokens: _*), lit(null).cast(StringType))
      .otherwise(collapsed)
  }

  /** parse_price_to_number (etl.py:109-118): null for "ask price" /
    * "get quote" quotes; strip ₹ and thousands-commas; first decimal
    * number → double. `"₹ 78,000/Piece"` → 78000.0. */
  def parsePriceToNumber(raw: Column): Column = {
    val s = cleanText(raw)
    val stripped = regexp_replace(s, "[₹,]", "")
    val m = regexp_extract(stripped, "\\d+(\\.\\d+)?", 0)
    when(s.isNull, lit(null).cast(DoubleType))
      .when(lower(s).contains("ask price") || lower(s).contains("get quote"),
        lit(null).cast(DoubleType))
      .when(m === "", lit(null).cast(DoubleType))
      .otherwise(m.cast(DoubleType))
  }

  /** extract_price_unit (etl.py:121-126): `/<alpha>` suffix, title-cased.
    * The captured group is a single alpha token, so `initcap` ≡ Python
    * `.title()` here. */
  def extractPriceUnit(raw: Column): Column = {
    val s = cleanText(raw)
    val unit = regexp_extract(s, "/\\s*([A-Za-z]+)", 1)
    when(s.isNull || unit === "", lit(null).cast(StringType)).otherwise(initcap(unit))
  }

  /** is_valid_url (etl.py:129-137): scheme ∈ {http,https} ∧ non-empty
    * netloc. urlparse's netloc is everything between `//` and the next
    * `/?#` — non-empty means at least one such char. */
  def isValidUrl(raw: Column): Column = {
    val s = cleanText(raw)
    coalesce(s.rlike("(?i)^https?://[^/?#]"), lit(false))
  }

  /** clean_phone_digits (etl.py:140-145): strip non-digits; empty → null. */
  def cleanPhoneDigits(raw: Column): Column = {
    val d = regexp_replace(cleanText(raw), "\\D", "")
    when(d.isNull || d === "", lit(null).cast(StringType)).otherwise(d)
  }

  val Sha256Salt = "indiamart_etl_salt"

  /** sha256_hash (etl.py:148-152): salted sha-256 hex; null/empty → null. */
  def sha256Hash(c: Column, salt: String = Sha256Salt): Column =
    when(c.isNull || c === "", lit(null).cast(StringType))
      .otherwise(sha2(concat(lit(s"$salt::"), c), 256))

  /** normalize_keyword (etl.py:155-166): lowercase, collapse whitespace,
    * 4-entry typo-fix table. The table is small enough for a `when` chain;
    * at a larger size this becomes a broadcast-joined dimension. */
  def normalizeKeyword(raw: Column): Column = {
    val s = lower(cleanText(raw))
    val fixes = Seq(
      "bakery oven," -> "bakery oven",
      "wet & dry vacuum cleaner" -> "wet and dry vacuum cleaner",
      "built-in dishwasher" -> "built in dishwasher",
      "semi automatic washing machine" -> "semi-automatic washing machine")
    fixes.foldLeft(s) { case (acc, (from, to)) =>
      when(s === from, lit(to)).otherwise(acc)
    }
  }

  /** normalize_city_state (etl.py:169-175): Title-case +
    * "Tamilnadu" → "Tamil Nadu". `initcap` differs from Python
    * `.title()` only on letters after apostrophes/digits — acceptable
    * divergence on the scale path (tests use [[pyTitle]] for parity). */
  def normalizeCityState(raw: Column, exactPythonTitle: Boolean = false): Column = {
    val t = if (exactPythonTitle) pyTitle(cleanText(raw)) else initcap(cleanText(raw))
    regexp_replace(t, "Tamilnadu", "Tamil Nadu")
  }

  private val South = Seq("tamil nadu", "kerala", "karnataka", "andhra pradesh", "telangana", "puducherry")
  private val West  = Seq("maharashtra", "gujarat", "goa", "rajasthan")
  private val North = Seq("delhi", "punjab", "haryana", "uttar pradesh", "uttarakhand", "himachal pradesh", "jammu and kashmir")
  private val East  = Seq("west bengal", "odisha", "bihar", "jharkhand", "assam")

  /** supplier_region_from_state (etl.py:178-197). Hardcoded sets as a
    * `when` chain. */
  def supplierRegionFromState(raw: Column): Column = {
    val s = lower(cleanText(raw))
    when(s.isNull, "Unknown")
      .when(s.isin(South: _*), "South")
      .when(s.isin(West: _*), "West")
      .when(s.isin(North: _*), "North")
      .when(s.isin(East: _*), "East")
      .otherwise("Other/Unknown")
  }

  /** price_bucket (etl.py:200-207), applied to the winsorized price. */
  def priceBucket(price: Column): Column =
    when(price.isNull, "Unknown")
      .when(price < 10000, "Low (<10k)")
      .when(price < 50000, "Mid (10k-50k)")
      .otherwise("High (50k+)")

  /** to_numeric(errors="coerce") (etl.py:288-293): non-numeric → null.
    * try_cast keeps coerce semantics under Spark 4's default ANSI mode. */
  def toNumericDouble(c: Column): Column = c.try_cast(DoubleType)
  def toNumericLong(c: Column): Column   = c.try_cast(DoubleType).try_cast(LongType)

  /** decode_isq (scraper.py:263-280): URL-decode, split on `#`, split each
    * part on the FIRST `:` → trimmed map; partless/empty-key entries
    * dropped. Kept as a real MapType instead of the reference's lossy
    * "; "-joined string. A repeated key behaves as in the Python dict:
    * it keeps its first position and takes its last value. The map is
    * built from already-distinct keys, so this holds under the
    * session's default map-key dedup policy. */
  def decodeIsq(c: Column): Column = {
    val entries = filter(
      transform(split(url_decode(c), "#"), p => {
        val kv = split(p, ":", 2)
        struct(trim(kv.getItem(0)).as("k"), trim(get(kv, lit(1))).as("v"))
      }),
      e => e("k") =!= "" && e("v").isNotNull)
    val keys = array_distinct(transform(entries, e => e("k")))
    map_from_arrays(keys, transform(keys, k =>
      element_at(filter(entries, e => e("k") === k), -1)("v")))
  }

  /** The reference's flattened "`k=v; k=v`" rendering of the isq map
    * (scraper.py:354), for parity output. */
  def isqFlatten(m: Column): Column =
    array_join(transform(map_entries(m), e =>
      concat(e.getField("key"), lit("="), e.getField("value"))), "; ")

  /** _short_label (analysis.py:81-85): truncate to n chars + "…". */
  def shortLabel(c: Column, maxLen: Int = 18): Column = {
    val s = trim(c.cast(StringType))
    when(length(s) <= maxLen, s).otherwise(concat(substring(s, 1, maxLen - 1), lit("…")))
  }

  /** format_inr (analysis.py:87-93): `₹{:,.0f}`, missing → "NA". */
  def formatInr(c: Column): Column =
    when(c.isNull, "NA").otherwise(concat(lit("₹"), format_number(round(c, 0).cast(LongType), 0)))

  /** display_cell (templatetags/utils.py:15-32): blank/NaN-ish → "—". */
  def displayCell(c: Column): Column = coalesce(cleanText(c), lit("—"))

  /** Histogram bin label `"{lo:,}-{hi:,}"` (views.py:223). */
  def binLabel(lo: Column, hi: Column): Column =
    concat(format_number(floor(lo).cast(LongType), 0), lit("-"),
      format_number(floor(hi).cast(LongType), 0))

  /** Python str.title() reimplemented for byte-exact golden tests
    * (etl.py:271-272 supplier title-casing). NOT for the scale path —
    * it is a black-box UDF Catalyst can't optimize through. */
  val pyTitle: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        val sb = new StringBuilder(s.length)
        var prevCased = false
        s.foreach { ch =>
          if (Character.isLetter(ch)) {
            sb.append(if (prevCased) Character.toLowerCase(ch) else Character.toUpperCase(ch))
            prevCased = true
          } else { sb.append(ch); prevCased = false }
        }
        sb.toString
      }
    }
    c => f(c)
  }

  /** to_snake_case (etl.py:92-96) — driver-side column renaming. */
  def toSnakeCase(name: String): String =
    name.trim.replaceAll("[^\\w\\s]", "").replaceAll("\\s+", "_").toLowerCase

  /** URL canonicalization for web-corpus dedup: two pages are the SAME
    * document when their URLs differ only by case of scheme/host, a
    * `www.` prefix, a fragment, tracking query parameters
    * (utm_-prefixed, fbclid, gclid), or a trailing slash on the path. Pure
    * expression chain (regexps + array HOFs over the split query
    * string — a handful of params per URL, never corpus-sized), so
    * canonical-URL dedup is one fingerprint groupBy at scale. The
    * path's case is PRESERVED (paths are case-sensitive); only scheme
    * and authority lowercase. */
  def canonicalUrl(c: Column): Column = {
    val noFrag = regexp_replace(c.cast(StringType), "#.*$", "")
    // lowercase scheme://authority, leave path+query untouched
    val head = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    val noWww = regexp_replace(head, "^(https?://)www\\.", "$1")
    // drop tracking params from the query string, keep the others in order
    val path = regexp_replace(rest, "\\?.*$", "")
    val qs = when(rest.contains("?"), regexp_replace(rest, "^[^?]*\\?", ""))
      .otherwise(lit(""))
    val keptParams = filter(split(qs, "&"),
      p => !(p.rlike("^(utm_|fbclid=|gclid=)") || p === ""))
    val cleanQs = when(size(keptParams) > 0,
      concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit(""))
    val noSlash = regexp_replace(path, "/+$", "")
    concat(noWww, noSlash, cleanQs)
  }
}
