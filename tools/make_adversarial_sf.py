"""Build an ADVERSARIAL sf-dir: the real sf0.001 fixture tables plus
injected degenerate rows (fresh unique keys, schemas unchanged), so
the ENTIRE registered-query parity sweep can run against data that
exercises the boundary shapes the generator never produces:

- documents: empty / whitespace-only / single-char / single-token
  text, exact token-count multiples of the chunk & pack budgets,
  unicode (NFC vs NFD, emoji, RTL, combining marks), a pathological
  one-token-repeated doc, exact duplicate pairs;
- embeddings: all-zero and constant vectors (zero range / zero norm),
  exact-duplicate pair, one vector duplicating a REAL fixture row
  (near-dup across the injected/fixture boundary);
- events: exact-equal timestamps (tie-breaks), timestamps exactly on
  hour / half-hour window edges and +/-1s/1us around them, gaps of
  exactly the 30-min session threshold, malformed / empty / non-object
  props JSON, zero and negative values; degenerate sessions (r13): one
  user with ALL events at one instant (zero-duration session, gap 0),
  a user straddling the 30-min gap by exactly +/-1s, a NULL-props vs
  empty-string-props pair, and bare-\r-inside-JSON props on both the
  passthrough and guarded-splice writer generations (Java-vs-RE2 dot
  semantics);
- lineitem: zero quantity (unit-cost division guard), zero price,
  discount 0 and 1, orphan order/part/supplier keys;
- orders: customer with no orders / order with missing customer,
  zero total price;
- customer/supplier/part: degenerate strings (empty name), negative
  balances, zero retail price.

Usage: python tools/make_adversarial_sf.py [out_dir]   (default
/tmp/adversarial_sf). Then: python tools/check_parity.py --sf-dir <out_dir>.

Deterministic (no RNG) — every injected row is hand-picked; re-running
overwrites in place. The driver fixtures stay untouched.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from sweep import parse, parser

SRC = "/root/testdata/sf0.001"

# token budgets mirrored from the plans (chunk=64 in pipeline_ops,
# pack budget/cap=512 in llm_ops) so exact-multiple docs land on edges
_CHUNK = 64
_PACK = 512



def _append(src_path: str, dst_path: str, new_rows: dict) -> None:
    import pandas as pd

    base = pq.read_table(src_path)
    cols = {}
    for name in base.schema.names:
        typ = base.schema.field(name).type
        vals = new_rows[name]
        if pa.types.is_timestamp(typ):
            vals = pd.to_datetime(vals)
        cols[name] = pa.array(vals, typ)
    pq.write_table(pa.concat_tables([base, pa.table(cols)]), dst_path)


def build(out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name in ("region", "nation"):  # dims copied verbatim
        shutil.copy(f"{SRC}/{name}.parquet", f"{out_dir}/{name}.parquet")

    # ---- documents -------------------------------------------------
    texts = [
        "",                                   # empty
        "   \t\n  ",                          # whitespace-only
        "x",                                  # single char
        "word",                               # single token
        "the " * (_CHUNK - 1) + "the",        # exactly chunk tokens
        "a " * _CHUNK + "a",                  # chunk+1 tokens
        "tok " * (_PACK - 1) + "tok",         # exactly pack-budget tokens
        "dup dup dup dup dup dup dup dup",    # one token repeated
        "café résumé",          # NFC
        "café résumé",       # NFD of the same text
        "\U0001f600 \U0001f680 emoji doc",     # emoji
        "שלום rtl text",   # RTL
        "exact duplicate body",               # dup pair A
        "exact duplicate body",               # dup pair B
        None,                                 # NULL text (r12, ADVICE —
        # pins the NULL-vs-empty contract engine-side AND oracle-side
        # for every text-deriving query, incl. the multimodal synth
        # paths whose stubs map None -> b'')
    ]
    n = len(texts)
    _append(
        f"{SRC}/documents.parquet",
        f"{out_dir}/documents.parquet",
        {
            "doc_id": [900000 + i for i in range(n)],
            "text": texts,
            "lang": ["en", "en", "xx", "xx", "en", "en", "en", "xx",
                     "fr", "fr", "xx", "he", "en", "en", "xx"],
            "source": ["adv"] * n,
            "n_chars": [len(t) if t is not None else None for t in texts],
        },
    )

    # ---- embeddings ------------------------------------------------
    dim = len(pq.read_table(f"{SRC}/embeddings.parquet")["embedding"][0])
    first_real = [
        float(x.as_py())
        for x in pq.read_table(f"{SRC}/embeddings.parquet")["embedding"][0]
    ]
    vecs = [
        [0.0] * dim,              # zero vector (zero norm)
        [7.25] * dim,             # constant vector (zero range)
        [1.0] + [0.0] * (dim - 1),    # unit axis pair A
        [1.0] + [0.0] * (dim - 1),    # unit axis pair B (exact dup)
        first_real,               # duplicates a fixture row
        # non-finite vectors (r12): failed-encoder garbage — the
        # trainer/quantizer queries must EXCLUDE these (vec_is_finite
        # gate), the per-vector propagation paths must agree on
        # NaN/Inf arithmetic cross-engine. (A NULL-COMPONENT vector is
        # deliberately absent: DuckDB's list_inner_product hard-errors
        # on NULL elements, so that shape is unit-pinned on
        # vec_is_finite instead of fixture-pinned.)
        [float("nan")] * 4 + [1.0] * (dim - 4),
        [float("inf"), float("-inf")] + [1.0] * (dim - 2),
    ]
    _append(
        f"{SRC}/embeddings.parquet",
        f"{out_dir}/embeddings.parquet",
        {
            "vec_id": [900000 + i for i in range(len(vecs))],
            "embedding": vecs,
            "label": [0, 1, 0, 1, 0, 0, 1],
        },
    )

    # ---- events ----------------------------------------------------
    B = "2024-06-01 "
    ev = [
        # equal-ts tie pair, same user
        (B + "10:00:00.000000", 91, "view", 1.0, "{}"),
        (B + "10:00:00.000000", 91, "click", 2.0, "{}"),
        # exact hour edge and +/- 1us / 1s
        (B + "11:00:00.000000", 92, "view", 0.0, '{"k": 1}'),
        (B + "10:59:59.999999", 92, "view", -5.5, '{"k": 2}'),
        (B + "11:00:00.000001", 92, "view", 5.5, '{"k": 3}'),
        # half-hour edge
        (B + "11:30:00.000000", 92, "click", 1.0, "{}"),
        # session gap exactly 30 min from the 11:30 event
        (B + "12:00:00.000000", 92, "click", 1.0, "{}"),
        # and one second past the threshold from THAT
        (B + "12:30:01.000000", 92, "click", 1.0, "{}"),
        # malformed / empty / non-object props
        (B + "13:00:00.000000", 93, "purchase", 9.9, "not json"),
        (B + "13:00:01.000000", 93, "purchase", 9.9, ""),
        (B + "13:00:02.000000", 93, "purchase", 9.9, "[1,2]"),
        # valid JSON, type-drifted k (string where BIGINT expected) —
        # a strict variant_get/CAST crashes on this; the tolerant
        # spellings must yield NULL on both engines
        (B + "13:00:03.000000", 93, "purchase", 9.9, '{"k": "abc"}'),
        # trailing newline: Java regex '$' matches BEFORE a final line
        # terminator, RE2's does not — anchor-semantics divergence bait
        # (r12 review finding; both engines must agree via \z). Two
        # rows so the bait lands on BOTH writer generations of the
        # schema-audit synth: event_id 900012 (%3==0, passthrough) and
        # 900013 (%3==1, the guarded splice the finding was about).
        (B + "13:00:04.000000", 93, "purchase", 9.9, '{"k": 4}\n'),
        (B + "13:00:05.000000", 93, "purchase", 9.9, '{"k": 5}\n'),
        # --- r13 additions. Row INDEX matters below: the schema-audit
        # synth branches on event_id % 3 (ids are 900000+i, 900000%3==0
        # so branch == i%3), and the two \r rows must land on BOTH the
        # %3==0 passthrough and the %3==1 guarded splice — the branch
        # whose '^\{[^\n\r]+\}\z' gate replaced the engine-divergent
        # dot (Java's . excludes \r, RE2's does not).
        # i=14 (%3==2, renamed branch) — also session pathology user 94:
        # ALL events at ONE timestamp -> a zero-duration session, every
        # gap 0, funnel time-to-convert 0.
        (B + "14:00:00.000000", 94, "view", 1.0, '{"k": 14}'),
        # i=15 (%3==0): bare \r INSIDE the payload, passthrough branch
        # (\r is JSON whitespace — both engines must parse it).
        (B + "14:00:00.000000", 94, "click", 1.0, '{"k":\r15}'),
        # i=16 (%3==1): bare \r INSIDE the payload on the GUARDED
        # splice branch — the r13 ADVICE divergence bait: both engines
        # must now take the fresh-tag arm.
        (B + "14:00:00.000000", 94, "purchase", 2.5, '{"k":\r16}'),
        # i=17 (%3==2): fourth same-instant event closes user 94.
        (B + "14:00:00.000000", 94, "view", 0.0, '{"k": 17}'),
        # user 95: events that straddle the 30-min session gap by
        # exactly +/-1s — 29:59 (same session), then 30:01 (new
        # session), then exactly 30:00 (threshold-equal gap).
        (B + "15:00:00.000000", 95, "view", 1.0, "{}"),
        (B + "15:29:59.000000", 95, "view", 1.0, "{}"),
        (B + "16:00:00.000000", 95, "click", 1.0, "{}"),
        (B + "16:30:00.000000", 95, "purchase", 3.0, '{"k": 21}'),
        # user 96: NULL-props vs empty-string-props pair — the two
        # "no payload" spellings must classify identically on both
        # engines everywhere props is parsed.
        (B + "17:00:00.000000", 96, "view", 1.0, None),
        (B + "17:00:01.000000", 96, "view", 1.0, ""),
    ]
    _append(
        f"{SRC}/events.parquet",
        f"{out_dir}/events.parquet",
        {
            "event_id": [900000 + i for i in range(len(ev))],
            "ts": [r[0] for r in ev],
            "user_id": [7 * r[1] for r in ev],  # %7==0 → in sessionized set
            "event_type": [r[2] for r in ev],
            "value": [r[3] for r in ev],
            "props": [r[4] for r in ev],
        },
    )

    # ---- lineitem --------------------------------------------------
    li = [
        # (orderkey, partkey, suppkey, lineno, qty, price, disc, tax, rf, ls, shipdate)
        (900001, 1, 1, 1, 0.0, 100.0, 0.0, 0.0, "N", "O", "1995-06-01 00:00:00"),  # zero qty
        (900001, 1, 1, 2, 5.0, 0.0, 0.0, 0.0, "N", "O", "1995-06-02 00:00:00"),    # zero price
        (900001, 2, 2, 3, 5.0, 100.0, 1.0, 0.1, "R", "F", "1995-06-03 00:00:00"),  # 100% discount
        (900002, 999999, 999999, 1, 1.0, 50.0, 0.0, 0.0, "A", "F",
         "1995-06-04 00:00:00"),                                                   # orphan part+supp
        (999999, 1, 1, 1, 1.0, 50.0, 0.0, 0.0, "N", "O",
         "1995-06-05 00:00:00"),                                                   # orphan order
    ]
    _append(
        f"{SRC}/lineitem.parquet",
        f"{out_dir}/lineitem.parquet",
        {
            "l_orderkey": [r[0] for r in li],
            "l_partkey": [r[1] for r in li],
            "l_suppkey": [r[2] for r in li],
            "l_linenumber": [r[3] for r in li],
            "l_quantity": [r[4] for r in li],
            "l_extendedprice": [r[5] for r in li],
            "l_discount": [r[6] for r in li],
            "l_tax": [r[7] for r in li],
            "l_returnflag": [r[8] for r in li],
            "l_linestatus": [r[9] for r in li],
            "l_shipdate": [r[10] for r in li],
        },
    )

    # ---- orders ----------------------------------------------------
    od = [
        (900001, 1, "O", 0.0, "1995-06-01 00:00:00", "1-URGENT"),     # zero price
        (900002, 999999, "F", 123.45, "1995-06-02 00:00:00", "5-LOW"),  # orphan cust
    ]
    _append(
        f"{SRC}/orders.parquet",
        f"{out_dir}/orders.parquet",
        {
            "o_orderkey": [r[0] for r in od],
            "o_custkey": [r[1] for r in od],
            "o_orderstatus": [r[2] for r in od],
            "o_totalprice": [r[3] for r in od],
            "o_orderdate": [r[4] for r in od],
            "o_orderpriority": [r[5] for r in od],
        },
    )

    # ---- customer / supplier / part --------------------------------
    _append(
        f"{SRC}/customer.parquet",
        f"{out_dir}/customer.parquet",
        {
            "c_custkey": [900001, 900002],
            "c_name": ["", "no-orders customer"],
            "c_nationkey": [0, 1],
            "c_acctbal": [-999.99, 0.0],
            "c_mktsegment": ["BUILDING", "AUTOMOBILE"],
        },
    )
    _append(
        f"{SRC}/supplier.parquet",
        f"{out_dir}/supplier.parquet",
        {
            "s_suppkey": [900001],
            "s_name": [""],
            "s_nationkey": [0],
            "s_acctbal": [-1.0],
        },
    )
    _append(
        f"{SRC}/part.parquet",
        f"{out_dir}/part.parquet",
        {
            "p_partkey": [900001],
            "p_name": ["zero-price part"],
            "p_brand": ["Brand#99"],
            "p_type": ["ADVERSARIAL TYPE"],
            "p_size": [0],
            "p_retailprice": [0.0],
        },
    )
    return out_dir


if __name__ == "__main__":
    p = parser(__doc__, sf_dirs=())
    p.add_argument("out_dir", nargs="?", default="/tmp/adversarial_sf")
    print(build(parse(p, names=False).out_dir))
