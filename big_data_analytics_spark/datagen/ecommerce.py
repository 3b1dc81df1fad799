"""Seeded, Spark-native e-commerce dataset generator.

Re-expresses the reference's single-process generator
(/root/reference/dataset_generator.py, 526 LoC, ≈3,310 sessions/s
single-threaded — BASELINE.md) as pure column expressions over
``spark.range``:

- **Deterministic by construction**: every "random" value is a hash of
  (salt, entity id) — no RNG state, no ordering dependence, so the same
  (seed, n) always produces the same rows on any cluster topology. The
  reference's uuid4 ids are NOT seed-reproducible (SURVEY.md §7); ours
  are hash-derived hex, stable across runs.
- **Embarrassingly parallel**: `spark.range(n)` partitions the id
  space; generation is a narrow map with no shuffle, so throughput
  scales linearly with cores — the 100 TB path is just `n=10**11`
  with more partitions.
- **Built from SQL text**: each output column is one SQL string handed
  to ``selectExpr``, and the helpers below (``_h``, ``_hint``,
  ``_pick`` …) return SQL fragments, not ``Column`` objects. Every
  ``Column`` node built in Python is a py4j round trip to the driver
  JVM (about 0.1 ms each); building the five tables node by node took
  ~7,800 of them (≈1 s per ``gen_all`` before any job started), while
  the SQL form costs about one round trip per column, a few hundred in
  all. The expressions are the same ones the ``Column`` API builds, so
  rows and schemas are unchanged (``tests/test_datagen_identity.py``
  pins both, and its round-trip guard keeps the count under 500).

Schemas follow FIXTURES.md §1-5, which mirror the reference's data
model exactly (structs, arrays-of-structs, string-keyed maps,
ISO-8601-string timestamps — dataset_generator.py:160,236-320).

Invariants guaranteed (FIXTURES.md §9, from generator logic at
dataset_generator.py:269-299,388-404):
  - sum(page_views.view_duration) == duration_seconds
  - unix(end_time) - unix(start_time) == duration_seconds
  - converted ⇒ cart non-empty ∧ checkout+confirmation page_views
  - items.subtotal == bround(quantity*unit_price, 2); txn subtotal ==
    Σ items.subtotal; total == bround(subtotal - discount, 2)
  - viewed_products distinct ⊆ page_views.product_id
  - cart_contents values all have quantity > 0
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Fixed anchor (the reference anchors to wall-clock `now()`; fixtures
#: pin T0 so golden files are stable — FIXTURES.md).
T0 = "2025-06-08T00:00:00"
T0_EPOCH = 1749340800  # seconds, UTC

STATES = ["CA", "NY", "TX", "FL", "WA", "IL", "PA", "OH", "GA", "NC"]
CITIES = ["Springfield", "Riverton", "Lakeside", "Fairview", "Greenwood",
          "Madison", "Clinton", "Georgetown", "Salem", "Ashland"]
PAGE_TYPES = ["home", "search", "category_listing", "product_detail", "cart"]
DEVICE_TYPES = ["mobile", "desktop", "tablet"]
OS_NAMES = ["iOS", "Android", "Windows", "macOS"]
BROWSERS = ["Chrome", "Safari", "Firefox", "Edge"]
REFERRERS = ["direct", "email", "social", "search_engine", "affiliate"]
PAYMENT_METHODS = ["credit_card", "paypal", "apple_pay", "crypto"]
ADJ = ["Premium", "Classic", "Modern", "Deluxe", "Eco", "Smart", "Ultra",
       "Compact", "Pro", "Mini"]
NOUN = ["Widget", "Gadget", "Lamp", "Speaker", "Backpack", "Bottle",
        "Charger", "Notebook", "Camera", "Headphones"]

# SQL fragments below are built by string formatting from the literal
# lists above and integer/float parameters only. Python floats are
# written as ``repr(x)`` + ``D`` (a DOUBLE literal that parses back to
# the same double; a bare ``0.1`` would be a DECIMAL).


def _dbl(x: float) -> str:
    return f"{float(x)!r}D"


def _h(salt: str, *cols: str) -> str:
    """Non-negative 64-bit hash of (salt, cols) — the randomness source."""
    return f"abs(xxhash64('{salt}', {', '.join(cols)}))"


def _hint(salt: str, lo: int, hi: int, *cols: str) -> str:
    """Deterministic integer in [lo, hi]."""
    return f"CAST(pmod({_h(salt, *cols)}, {hi - lo + 1}) + {lo} AS INT)"


def _huniform(salt: str, lo: float, hi: float, *cols: str) -> str:
    """Deterministic double in [lo, hi)."""
    u = f"pmod({_h(salt, *cols)}, 1000000) / {_dbl(1_000_000)}"
    return f"(({u}) * {_dbl(hi - lo)} + {_dbl(lo)})"


def _pick(salt: str, values: list[str], *cols: str) -> str:
    """Deterministic choice from a literal list."""
    arr = ", ".join(f"'{v}'" for v in values)
    return f"element_at(array({arr}), {_hint(salt, 1, len(values), *cols)})"


def _hex_id(prefix: str, salt: str, width: int, *cols: str) -> str:
    """Hash-derived hex id (reference uses uuid4().hex[:width],
    dataset_generator.py:74-80 — not seed-stable; this is)."""
    key = f"concat_ws('|', '{salt}', {', '.join(cols)})"
    return f"concat('{prefix}', substring(sha2({key}, 256), 1, {width}))"


def _iso(epoch: str) -> str:
    """Epoch seconds → ISO-8601 string (reference stores ISO strings,
    dataset_generator.py:160)."""
    return f"date_format(timestamp_seconds({epoch}), 'yyyy-MM-dd\\'T\\'HH:mm:ss')"


def _geo(uid: str) -> str:
    """The user's home city/state, shared by users and their sessions."""
    return (f"'city', {_pick('city', CITIES, uid)}, "
            f"'state', {_pick('state', STATES, uid)}, 'country', 'US'")


# ---------------------------------------------------------------------
# categories — dataset_generator.py:167-184
# ---------------------------------------------------------------------
def gen_categories(spark: SparkSession, n: int = 5) -> DataFrame:
    sub = (
        f"transform(sequence(1, {_hint('nsub', 3, 5, 'cid')}), i -> named_struct("
        "'subcategory_id', format_string('sub_%03d_%02d', cid, i), "
        f"'name', concat({_pick('subadj', ADJ, 'cid', 'i')}, ' ', "
        f"{_pick('subnoun', NOUN, 'cid', 'i')}), "
        # uniform 0.10..0.40, 2dp (dataset_generator.py:177)
        f"'profit_margin', bround({_huniform('margin', 0.10, 0.40, 'cid', 'i')}, 2)))"
    )
    return spark.range(n).selectExpr("CAST(id AS INT) AS cid").selectExpr(
        "format_string('cat_%03d', cid) AS category_id",
        f"concat({_pick('catadj', ADJ, 'cid')}, ' ', "
        f"{_pick('catnoun', NOUN, 'cid')}, 's') AS name",
        f"{sub} AS subcategories",
    )


# ---------------------------------------------------------------------
# products — dataset_generator.py:190-221
# ---------------------------------------------------------------------
def gen_products(spark: SparkSession, n: int = 50, n_categories: int = 5) -> DataFrame:
    n_hist = _hint("nhist", 1, 3, "pid")
    # price history: 1..3 entries, ascending dates, 2dp prices 5..500
    date = (f"{T0_EPOCH} - ({n_hist} - i + 1) * {30 * 86400}"
            f" - {_hint('histjit', 0, 86399, 'pid', 'i')}")
    hist = (
        f"transform(sequence(1, {n_hist}), i -> named_struct("
        f"'price', bround({_huniform('price', 5.0, 500.0, 'pid', 'i')}, 2), "
        f"'date', {_iso(date)}))"
    )
    return spark.range(n).selectExpr("CAST(id AS INT) AS pid").selectExpr(
        "format_string('prod_%05d', pid) AS product_id",
        f"initcap(concat({_pick('padj', ADJ, 'pid')}, ' ', "
        f"{_pick('pnoun', NOUN, 'pid')})) AS name",
        f"format_string('cat_%03d', CAST(pmod({_h('pcat', 'pid')}, {n_categories})"
        " AS INT)) AS category_id",
        f"{hist} AS price_history",
        f"{_hint('stock', 413, 644, 'pid')} AS current_stock",
        f"pmod({_h('active', 'pid')}, 100) < 95 AS is_active",
    ).selectExpr(
        "*",
        # base_price = most recent price; creation_date = first
        # history date (dataset_generator.py:209,218)
        "element_at(price_history, -1).price AS base_price",
        "element_at(price_history, 1).date AS creation_date",
    )


# ---------------------------------------------------------------------
# users — dataset_generator.py:227-245
# ---------------------------------------------------------------------
def gen_users(spark: SparkSession, n: int = 100) -> DataFrame:
    reg_epoch = (f"{T0_EPOCH} - {_hint('reg', 180, 270, 'uid')} * 86400"
                 f" - {_hint('regjit', 0, 86399, 'uid')}")
    last_epoch = f"({reg_epoch}) + {_hint('last', 0, 180, 'uid')} * 86400"
    return spark.range(n).selectExpr("CAST(id AS INT) AS uid").selectExpr(
        "format_string('user_%06d', uid) AS user_id",
        f"named_struct({_geo('uid')}) AS geo_data",
        f"{_iso(reg_epoch)} AS registration_date",
        f"{_iso(f'least({last_epoch}, {T0_EPOCH})')} AS last_active",
    )


# ---------------------------------------------------------------------
# sessions — dataset_generator.py:250-344
# ---------------------------------------------------------------------
def gen_sessions(spark: SparkSession, n: int = 2000, n_users: int = 100,
                 n_products: int = 50, n_categories: int = 5) -> DataFrame:
    """Clickstream sessions with ordered page_views whose view_durations
    partition duration_seconds exactly (proportional-split by hashed
    weights — the distributed restatement of the reference's
    consecutive-slot-diff construction, dataset_generator.py:271-274).

    Each view's page type is computed once into the array ``pt`` and
    its product into ``pp``; ``page_views`` and ``viewed_products`` both
    read those arrays, so ``gen_transactions`` (which needs only the
    cart) never builds the page-view structs and their timestamps.
    """
    conv_roll = f"pmod({_h('conv', 'sid')}, 100)"
    is_conv = "conversion_status = 'converted'"
    is_aband = "conversion_status = 'abandoned'"
    either = f"({is_conv} OR {is_aband})"

    base = spark.range(n).selectExpr("CAST(id AS INT) AS sid").selectExpr(
        "sid",
        f"CAST(pmod({_h('suser', 'sid')}, {n_users}) AS INT) AS uid",
        f"CASE WHEN {conv_roll} < 25 THEN 'converted'"
        f" WHEN {conv_roll} < 55 THEN 'abandoned' ELSE 'browsed' END"
        " AS conversion_status",
        f"{_hint('dur', 30, 3600, 'sid')} AS duration_seconds",
        f"{T0_EPOCH} - {_hint('sday', 0, 89, 'sid')} * 86400"
        f" - {_hint('ssec', 0, 86399, 'sid')} AS start_epoch",
    ).selectExpr(
        "*",
        f"CASE WHEN {is_conv} THEN {_hint('nv', 4, 10, 'sid')}"
        f" WHEN {is_aband} THEN {_hint('nv', 3, 10, 'sid')}"
        f" ELSE {_hint('nv', 1, 8, 'sid')} END AS n_views",
    )

    page_type = (
        f"CASE WHEN {is_conv} AND i = n_views THEN 'confirmation'"
        f" WHEN {is_conv} AND i = n_views - 1 THEN 'checkout'"
        f" WHEN {either} AND i = 1 THEN 'product_detail'"
        f" WHEN {is_aband} AND i = n_views THEN 'cart'"
        f" WHEN {either} THEN {_pick('pt', PAGE_TYPES, 'sid', 'i')}"
        f" ELSE {_pick('ptb', PAGE_TYPES[:4], 'sid', 'i')} END"
    )
    per_view = base.selectExpr(
        "*",
        # per-view weights 1..99; durations split ∝ weight, exact sum
        "transform(sequence(1, n_views),"
        f" i -> CAST({_hint('w', 1, 99, 'sid', 'i')} AS BIGINT)) AS w",
        f"transform(sequence(1, n_views), i -> {page_type}) AS pt",
    ).selectExpr(
        "*",
        "aggregate(w, CAST(0 AS BIGINT), (acc, x) -> acc + x) AS wtot",
        "transform(pt, (p, j) -> CASE WHEN p = 'product_detail' THEN"
        f" format_string('prod_%05d', CAST(pmod({_h('pvprod', 'sid', 'j + 1')},"
        f" {n_products}) AS INT)) ELSE NULL END) AS pp",
    ).selectExpr(
        "*",
        # cumulative offsets in seconds: off[i] = floor(d * cumw_i / wtot),
        # off[0] = 0, off[n] = d exactly (telescoping)
        "transform(sequence(0, n_views), i -> floor(duration_seconds"
        " * aggregate(slice(w, 1, i), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        " / wtot)) AS off",
        # distinct product_detail targets, in first-view order
        # (reference builds a set, dataset_generator.py:269,280,316)
        "array_distinct(filter(pp, x -> x IS NOT NULL)) AS viewed_products",
    )

    page_views = (
        "transform(pt, (p, j) -> named_struct("
        f"'timestamp', {_iso('start_epoch + element_at(off, j + 1)')}, "
        "'page_type', p, "
        "'product_id', pp[j], "
        "'category_id', CASE WHEN p = 'category_listing' THEN"
        f" format_string('cat_%03d', CAST(pmod({_h('pvcat', 'sid', 'j + 1')},"
        f" {n_categories}) AS INT)) ELSE NULL END, "
        "'view_duration', CAST(element_at(off, j + 2) - element_at(off, j + 1)"
        " AS INT)))"
    )
    # cart: first k viewed products; entry price == the product's
    # base_price (same hash construction as gen_products)
    pnum = "CAST(substring(p, 6, 5) AS INT)"
    price = _huniform("price", 5.0, 500.0, pnum, _hint("nhist", 1, 3, pnum))
    cart_entry = (f"p -> named_struct('quantity', {_hint('cqty', 1, 3, 'sid', pnum)},"
                  f" 'price', bround({price}, 2))")
    first_k = f"slice(viewed_products, 1, {_hint('cartk', 1, 3, 'sid')})"
    cart = (
        f"CASE WHEN {either} THEN map_from_arrays({first_k},"
        f" transform({first_k}, {cart_entry}))"
        " ELSE map_from_arrays(array(),"
        " CAST(array() AS array<struct<quantity:int,price:double>>)) END"
    )
    ip = ", ".join(_hint(f"ip{k}", lo, 254, "sid")
                   for k, lo in ((1, 1), (2, 0), (3, 0), (4, 1)))
    return per_view.selectExpr(
        f"{_hex_id('sess_', 'sessid', 10, 'sid')} AS session_id",
        "format_string('user_%06d', uid) AS user_id",
        f"{_iso('start_epoch')} AS start_time",
        f"{_iso('start_epoch + duration_seconds')} AS end_time",
        "duration_seconds",
        f"named_struct({_geo('uid')}, 'ip_address', concat_ws('.', {ip})) AS geo_data",
        f"named_struct('type', {_pick('dev', DEVICE_TYPES, 'sid')}, "
        f"'os', {_pick('os', OS_NAMES, 'sid')}, "
        f"'browser', {_pick('browser', BROWSERS, 'sid')}) AS device_profile",
        "viewed_products",
        f"{page_views} AS page_views",
        f"{cart} AS cart_contents",
        "conversion_status",
        f"{_pick('ref', REFERRERS, 'sid')} AS referrer",
    )


# ---------------------------------------------------------------------
# transactions — dataset_generator.py:349-519 (from converted sessions)
# ---------------------------------------------------------------------
def gen_transactions(sessions: DataFrame) -> DataFrame:
    """One transaction per converted session: items from cart_contents,
    per-item subtotal = bround(qty*price, 2), txn subtotal = Σ items,
    20% discount chance at a rate ∈ {.05,.1,.15,.2}, total =
    bround(subtotal − discount, 2) (dataset_generator.py:388-404)."""
    items = (
        "transform(array_sort(map_entries(cart_contents)), e -> named_struct("
        "'product_id', e.key, 'quantity', e.value.quantity,"
        " 'unit_price', e.value.price,"
        " 'subtotal', bround(e.value.quantity * e.value.price, 2)))"
    )
    rates = ", ".join(_dbl(r) for r in (0.05, 0.10, 0.15, 0.20))
    rate = f"element_at(array({rates}), {_hint('drate', 1, 4, 'session_id')})"
    discount = (f"CASE WHEN pmod({_h('disc', 'session_id')}, 100) < 20"
                f" THEN bround(subtotal * {rate}, 2) ELSE {_dbl(0.0)} END")
    return sessions.filter("conversion_status = 'converted'").selectExpr(
        "session_id", "user_id", "end_time", f"{items} AS items",
    ).selectExpr(
        "*", f"aggregate(items, {_dbl(0.0)}, (acc, x) -> acc + x.subtotal) AS subtotal",
    ).selectExpr(
        "*", f"{discount} AS discount",
    ).selectExpr(
        f"{_hex_id('txn_', 'txnid', 12, 'session_id')} AS transaction_id",
        "session_id",
        "user_id",
        "end_time AS timestamp",
        "items",
        "subtotal",
        "discount",
        "bround(subtotal - discount, 2) AS total",
        f"{_pick('pay', PAYMENT_METHODS, 'session_id')} AS payment_method",
        "'completed' AS status",
    )


def gen_all(spark: SparkSession, n_users: int = 100, n_products: int = 50,
            n_categories: int = 5, n_sessions: int = 2000) -> dict[str, DataFrame]:
    """The full fixture set at the FIXTURES.md default scale; pass
    larger n_* for scale testing (generation is shuffle-free)."""
    sessions = gen_sessions(spark, n_sessions, n_users, n_products, n_categories)
    return {
        "categories": gen_categories(spark, n_categories),
        "products": gen_products(spark, n_products, n_categories),
        "users": gen_users(spark, n_users),
        "sessions": sessions,
        "transactions": gen_transactions(sessions),
    }
