"""Seeded raw-listing generator for the listing_pipeline workload.

Writes a raw IndiaMART-style listing CSV in the 24-column raw schema
(graft.schema.Schemas.raw) with the dirt profile of the reference's
golden data (BASELINE.md: about 27% null price, 27% null rating, 58%
null price unit), plus the ground truth the ETL must reproduce: the
clean row count and the quality-issue counts by type. It also writes
the dashboard's request stream. The same seed gives a byte-identical
CSV and an identical request stream.

Planted dirt: "Ask Price" / "Get Quote" prices, zero prices, duplicate
(product_url, dispid) keys written with different spacing and number
formats, missing product and supplier names, invalid URLs, out-of-range
ratings, "Tamilnadu" spellings, and mixed-case keywords and places.
"""
import csv
import io
import math
import random
import urllib.parse

RAW_COLUMNS = [
    "search_keyword", "product_name", "product_url", "supplier_name",
    "supplier_url", "price", "phone", "city", "state", "locality",
    "location_ui", "rating", "image", "catid", "mcatid", "itemid",
    "dispid", "brand", "capacity", "power", "ac_type", "function_type",
    "isq_attributes", "scraped_at"]

# 21 keywords as the ETL normalises them. Raw rows spell them in mixed
# case and spacing; the four with a typo-fix entry in
# Cleaning.normalizeKeyword are also written in their unfixed form.
KEYWORDS = [
    "air conditioner", "washing machine", "semi-automatic washing machine",
    "refrigerator", "microwave oven", "bakery oven",
    "wet and dry vacuum cleaner", "built in dishwasher", "water purifier",
    "air cooler", "ceiling fan", "led television", "mixer grinder",
    "induction cooktop", "water heater", "inverter battery", "deep freezer",
    "vacuum cleaner", "kitchen chimney", "water dispenser", "dishwasher"]
KEYWORD_TYPOS = {
    "bakery oven": "Bakery Oven,",
    "wet and dry vacuum cleaner": "Wet & Dry Vacuum Cleaner",
    "built in dishwasher": "Built-in Dishwasher",
    "semi-automatic washing machine": "Semi Automatic Washing Machine"}

# 46 cities of 11 states, most frequent first (drawn Zipf-skewed).
CITIES = [
    ("Chennai", "Tamil Nadu"), ("Mumbai", "Maharashtra"), ("Delhi", "Delhi"),
    ("Ahmedabad", "Gujarat"), ("Bengaluru", "Karnataka"), ("Coimbatore", "Tamil Nadu"),
    ("Pune", "Maharashtra"), ("Hyderabad", "Telangana"), ("Kolkata", "West Bengal"),
    ("Surat", "Gujarat"), ("Jaipur", "Rajasthan"), ("Noida", "Uttar Pradesh"),
    ("Gurugram", "Haryana"), ("Kochi", "Kerala"), ("Madurai", "Tamil Nadu"),
    ("Thane", "Maharashtra"), ("Vadodara", "Gujarat"), ("Lucknow", "Uttar Pradesh"),
    ("Faridabad", "Haryana"), ("Rajkot", "Gujarat"), ("Nagpur", "Maharashtra"),
    ("Ghaziabad", "Uttar Pradesh"), ("Salem", "Tamil Nadu"), ("Kanpur", "Uttar Pradesh"),
    ("Howrah", "West Bengal"), ("Mysuru", "Karnataka"), ("Tiruppur", "Tamil Nadu"),
    ("Nashik", "Maharashtra"), ("Jodhpur", "Rajasthan"), ("Secunderabad", "Telangana"),
    ("Erode", "Tamil Nadu"), ("Agra", "Uttar Pradesh"), ("Udaipur", "Rajasthan"),
    ("Thrissur", "Kerala"), ("Panipat", "Haryana"), ("Hubballi", "Karnataka"),
    ("Durgapur", "West Bengal"), ("Warangal", "Telangana"), ("Kota", "Rajasthan"),
    ("Varanasi", "Uttar Pradesh"), ("Kozhikode", "Kerala"), ("Aurangabad", "Maharashtra"),
    ("Sonipat", "Haryana"), ("Bhavnagar", "Gujarat"), ("Tirunelveli", "Tamil Nadu"),
    ("Mangaluru", "Karnataka")]

BRANDS = ["Voltas", "LG", "Samsung", "Whirlpool", "Godrej", "Bajaj", "Havells",
          "Kent", "Blue Star", "Haier", "IFB", "Crompton", "Usha", "Prestige"]
UNITS = ["Piece", "Unit", "Set", "Nos"]

# The CleanPipeline issue types, in the order the ETL checks them.
ETL_FLAGS = [
    "missing_product_name", "missing_supplier_name", "invalid_product_url",
    "invalid_supplier_url", "non_positive_price", "rating_out_of_range"]

ENDPOINTS = [
    "/api/filters/", "/api/summary/", "/api/top-cities/", "/api/top-states/",
    "/api/price-buckets/", "/api/price-hist/", "/api/scatter-rating-price/",
    "/api/mini-rows/"]


def zipf_index(rng, n, s=1.1):
    weights = [1.0 / (i + 1) ** s for i in range(n)]
    return rng.choices(range(n), weights=weights)[0]


def spell(rng, text):
    """A raw spelling of a clean value: case and spacing vary."""
    form = rng.random()
    if form < 0.25:
        text = text.upper()
    elif form < 0.5:
        text = text.lower()
    elif form < 0.6:
        text = "  " + text.replace(" ", "   ") + " "
    return text


def case_variant(rng, text):
    """A filter value as a user might type it: only the case varies."""
    return rng.choice([text, text.upper(), text.lower(), text.title()])


def missing_token(rng):
    return rng.choice(["", "nan", "None", "NULL", "   "])


def generate(seed, rows):
    """Return (csv_text, truth, clean_rows) for `rows` raw listings.

    clean_rows holds the (state, keyword) of every row the ETL keeps, for
    building a request schedule whose filters never select nothing."""
    rng = random.Random(seed)
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(RAW_COLUMNS)
    issues = dict.fromkeys(ETL_FLAGS, 0)
    seen_keys = set()
    written = []          # (product_url, dispid) of earlier rows, for duplicates
    kept = []
    null_price = null_unit = null_rating = 0
    for i in range(rows):
        kw = KEYWORDS[zipf_index(rng, len(KEYWORDS), 0.6)]
        city, state = CITIES[zipf_index(rng, len(CITIES))]
        brand = rng.choice(BRANDS)

        if written and rng.random() < 0.05:
            url, dispid = rng.choice(written)
            raw_url = " " + url + "  "
            raw_dispid = rng.choice([str(dispid), f"{dispid}.0"])
        else:
            dispid = 10_000_000_000 + i * 7919 + rng.randrange(7919)
            slug = f"{brand}-{kw}".lower().replace(" ", "-")
            url = f"https://www.indiamart.com/proddetail/{slug}-{dispid}.html"
            raw_url = url
            raw_dispid = str(dispid)
            written.append((url, dispid))
        key = (raw_url.strip(), int(float(raw_dispid)))
        r = rng.random()
        if r < 0.015:
            raw_url = rng.choice(["www.indiamart.com/proddetail/x.html",
                                  "http:///proddetail/x.html", "ftp://indiamart.com/x"])
            issues["invalid_product_url"] += 1
            key = (raw_url, key[1])

        p_missing = rng.random() < 0.03
        product = missing_token(rng) if p_missing else \
            f"{brand} {kw.title()} {rng.choice(['Pro', 'Plus', 'X', 'Max', 'Eco'])} {rng.randrange(100, 999)}"
        s_missing = rng.random() < 0.03
        supplier = missing_token(rng) if s_missing else \
            spell(rng, f"{rng.choice(['Shree', 'Sri', 'New', 'Royal', 'Global'])} "
                       f"{rng.choice(['Enterprises', 'Traders', 'Appliances', 'Corporation'])} "
                       f"{rng.randrange(1, 60)}")
        issues["missing_product_name"] += p_missing
        issues["missing_supplier_name"] += s_missing

        sr = rng.random()
        if sr < 0.02:
            supplier_url = rng.choice(["indiamart.com/supplier", "mailto:sales@example.com"])
            issues["invalid_supplier_url"] += 1
        elif sr < 0.10:
            supplier_url = ""
        else:
            supplier_url = f"https://www.indiamart.com/company/{rng.randrange(10**6)}/"

        pr = rng.random()
        if pr < 0.10:
            price, has_price, has_unit = "", False, False
        elif pr < 0.19:
            price, has_price, has_unit = spell(rng, "Ask Price"), False, False
        elif pr < 0.27:
            price, has_price, has_unit = "Get Quote", False, False
        elif pr < 0.275:
            price, has_price, has_unit = "₹ 0/Piece", True, True
            issues["non_positive_price"] += 1
        else:
            amount = int(math.exp(rng.uniform(math.log(90), math.log(850000))))
            has_price = True
            has_unit = rng.random() < 0.58
            price = f"₹ {amount:,}" + (f"/{rng.choice(UNITS)}" if has_unit else "")

        rr = rng.random()
        if rr < 0.27:
            rating, has_rating = rng.choice(["", "nan", ""]), False
        elif rr < 0.28:
            rating, has_rating = rng.choice(["7.5", "-1", "11"]), True
            issues["rating_out_of_range"] += 1
        else:
            rating, has_rating = f"{rng.uniform(1, 5):.1f}", True

        loc = rng.random()
        if loc < 0.03:
            raw_city, raw_state, clean_state = missing_token(rng), missing_token(rng), "Unknown"
        else:
            raw_city = spell(rng, city)
            clean_state = state
            raw_state = (rng.choice(["Tamilnadu", "tamilnadu", "TAMILNADU", "Tamil Nadu"])
                         if state == "Tamil Nadu" else spell(rng, state))

        raw_kw = KEYWORD_TYPOS[kw] if kw in KEYWORD_TYPOS and rng.random() < 0.5 else spell(rng, kw)
        isq = urllib.parse.quote(f"Brand:{brand}#Capacity:{rng.randrange(1, 9)} L")
        if rng.random() < 0.01:
            isq += "\nWarranty:1 Year"
        w.writerow([
            raw_kw, product, raw_url, supplier, supplier_url, price,
            f"+91-{rng.randrange(70000, 99999)} {rng.randrange(10000, 99999)}",
            raw_city, raw_state, f"Sector {rng.randrange(1, 60)}", f"{city}, {state}",
            rating, f"https://5.imimg.com/data5/{rng.randrange(10**8)}.jpg",
            str(rng.randrange(1, 200)), str(rng.randrange(1000, 99999)),
            str(rng.randrange(10**9, 10**10)), raw_dispid, brand,
            f"{rng.randrange(1, 9)} L", f"{rng.randrange(100, 2500)} W",
            rng.choice(["Split", "Window", ""]), rng.choice(["Cooling", "Heating", ""]),
            isq, f"2024-05-{rng.randrange(1, 29):02d} {rng.randrange(24):02d}:00:00"])

        # keep-first dedup on (product_url, dispid) runs before the
        # critical-missing drop, as in CleanPipeline
        if key in seen_keys:
            continue
        seen_keys.add(key)
        if p_missing or s_missing:
            continue
        kept.append((clean_state, kw))
        null_price += not has_price
        null_unit += not has_unit
        null_rating += not has_rating

    n = len(kept)
    truth = {
        "raw_rows": rows,
        "clean_rows": n,
        "issues": {k: v for k, v in issues.items() if v},
        "states": len({s for s, _ in kept}),
        "keywords": len({k for _, k in kept}),
        "null_pct": {"price": round(100 * null_price / n, 2),
                     "price_unit": round(100 * null_unit / n, 2),
                     "rating": round(100 * null_rating / n, 2)},
    }
    return out.getvalue(), truth, kept


def requests(seed, kept, n):
    """The dashboard's request stream: n requests, with Zipf-skewed
    filters so many requests repeat the same work. Filter values come
    from rows the ETL keeps, so no filter selects an empty table.

    The stream is stratified so that seeds differ in order, not in load,
    in every prefix a run gets through: endpoints come in shuffled rounds
    of all eight (their costs differ by up to five times), and the filter
    kinds (none, state, keyword, both) in shuffled blocks of 25 that hold
    them in Zipf proportions (12, 6, 4, 3)."""
    rng = random.Random(seed * 7 + 1)
    def by_freq(values):
        counts = {}
        for v in values:
            counts[v] = counts.get(v, 0) + 1
        return sorted(counts, key=lambda v: (-counts[v], v))
    states = by_freq(s for s, _ in kept if s != "Unknown")
    keywords = by_freq(k for _, k in kept)
    pairs = by_freq((s, k) for s, k in kept if s != "Unknown")

    paths, kinds = [], []
    while len(paths) < n:
        paths += rng.sample(ENDPOINTS, len(ENDPOINTS))
    while len(kinds) < n:
        block = [0] * 12 + [1] * 6 + [2] * 4 + [3] * 3
        rng.shuffle(block)
        kinds += block

    lines = []
    for path, kind in zip(paths[:n], kinds):
        params = {}
        if path == "/api/filters/":
            kind = 0
        if kind == 1:
            params["state"] = case_variant(rng, states[zipf_index(rng, len(states))])
        elif kind == 2:
            params["keyword"] = case_variant(rng, keywords[zipf_index(rng, len(keywords))])
        elif kind == 3:
            s, k = pairs[zipf_index(rng, len(pairs))]
            params["state"], params["keyword"] = case_variant(rng, s), case_variant(rng, k)
        lines.append(f"{path}\t{urllib.parse.urlencode(params)}")
    return "\n".join(lines) + "\n"
