"""Property-based semantics checks (hypothesis): the as-of join's
union+window formulation is equivalent to the naive join+row_number
definition on arbitrary inputs, and JSON round-trips are lossless."""

import datetime as dt

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings, strategies as st

from novlake_spark.operators.asof import asof_join

_spark = None  # bound by the autouse fixture below


import pytest


@pytest.fixture(autouse=True)
def _bind_spark(spark):
    global _spark
    _spark = spark
    yield


ts_strategy = st.integers(min_value=0, max_value=50)  # minutes, deliberately collision-prone
events_strategy = st.lists(
    st.tuples(st.integers(1, 3), ts_strategy), min_size=1, max_size=12
)


@settings(max_examples=15, deadline=None)
@given(left_rows=events_strategy, right_rows=events_strategy)
def test_asof_equals_naive_definition(left_rows, right_rows):
    base = dt.datetime(2024, 1, 1)
    left = _spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=m), i) for i, (k, m) in enumerate(left_rows)],
        "user_id long, ts timestamp, event_id long",
    )
    right = _spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=m), 1000 + i, 5000 + i) for i, (k, m) in enumerate(right_rows)],
        "user_id long, ts timestamp, event_id long, click_id long",
    )
    got = {
        r.event_id: r.asof_click_id
        for r in asof_join(left, right, "user_id", "ts", "click_id", "event_id").collect()
    }

    # naive oracle: for each left row, right rows with (ts, event_id) <=
    # (left.ts, left.event_id) lexicographically, take the max payload by
    # that same order
    rights = sorted(right.collect(), key=lambda r: (r.ts, r.event_id))
    for lr in left.collect():
        matches = [
            rr for rr in rights
            if rr.user_id == lr.user_id and (rr.ts, rr.event_id) <= (lr.ts, lr.event_id)
        ]
        want = matches[-1].click_id if matches else None
        assert got[lr.event_id] == want, (lr, want, got[lr.event_id])


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(-1000, 1000), st.text(alphabet="abc xyz", max_size=8)),
        min_size=1,
        max_size=8,
    )
)
def test_json_roundtrip(rows):
    df = _spark.createDataFrame(rows, "n long, s string")
    back = (
        df.select(F.to_json(F.struct("n", "s")).alias("j"))
        .select(F.from_json("j", "n long, s string").alias("x"))
        .select("x.n", "x.s")
    )
    assert sorted(map(tuple, back.collect())) == sorted(rows)


@settings(max_examples=200, deadline=None)
@given(ns=st.integers(min_value=0, max_value=4 * 10**18))
def test_ts_truncation_agrees_with_oracle_semantics(ns):
    """The bigint-nanos conversion (DIV 1000) and the micros the oracle
    computes (epoch_ns // 1000) are the same integer truncation for any
    representable epoch — pure-Python check of the shared contract."""
    # the binding property: integer-div by 1000 loses only sub-micro digits
    us = ns // 1000
    assert 0 <= ns - us * 1000 < 1000


@settings(max_examples=10, deadline=None)
@given(
    words=st.lists(st.text(alphabet="abcd", min_size=1, max_size=6), min_size=1, max_size=12),
    n_merges=st.integers(0, 8),
)
def test_bpe_encode_words_matches_pointwise_apply(words, n_merges):
    """The distributed encoder (distinct-word pandas UDF + join-back)
    must emit exactly the token multiset a pointwise apply_merges over
    every word occurrence produces."""
    from collections import Counter

    from novlake_spark.operators.bpe import apply_merges, encode_words, train_merges

    wc = Counter(words)
    merges = train_merges(sorted(wc.items()), n_merges)
    docs = _spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    got = Counter()
    for r in encode_words(docs, merges).collect():
        got[r.bpe_token] += r.n
    order = [(a, b) for _, a, b, _ in sorted(merges)]
    want = Counter()
    for w in words:
        for tok in apply_merges(w, order):
            want[tok] += 1
    assert got == want


@given(
    st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=4000),
    st.integers(min_value=2, max_value=255),
)
@settings(max_examples=40, deadline=None)
def test_gif_lzw_roundtrip_property(idx_list, n_colors):
    """Any palette-index stream survives GIF LZW encode→decode exactly —
    hypothesis sweeps stream lengths/alphabets that exercise code-width
    growth, the first-code-after-CLEAR schedule, KwKwK and table clears
    (no Spark; the pure codec pair from operators/multimodal)."""
    import numpy as np

    from novlake_spark.operators.multimodal import decode_gif, encode_gif

    idx = np.array([v % n_colors for v in idx_list], dtype=np.uint8)
    # shape into an image whose palette is the identity greyscale
    w = min(len(idx), 64)
    h = -(-len(idx) // w)
    padded = np.resize(idx, h * w)
    px = np.stack([padded.reshape(h, w)] * 3, axis=-1)
    assert np.array_equal(decode_gif(encode_gif(px)), px)


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=40, deadline=None)
def test_image_decoders_never_crash_on_garbage(data):
    """Arbitrary bytes must raise ValueError (quarantine) or decode —
    never IndexError/struct.error/infinite loop: the curation contract
    for all five from-scratch decoders."""
    import numpy as np

    from novlake_spark.operators.jpeg import decode_jpeg
    from novlake_spark.operators.multimodal import (
        decode_bmp, decode_gif, decode_png, decode_ppm,
    )

    for dec in (decode_bmp, decode_ppm, decode_png, decode_gif, decode_jpeg):
        try:
            out = dec(data)
            assert isinstance(out, np.ndarray)
        except ValueError:
            pass


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=60, deadline=None)
def test_image_decoders_quarantine_truncated_headers(tail):
    """Force each format's magic so the PARSERS run on garbage bodies:
    still ValueError-or-decode, never struct.error/IndexError/OverflowError
    (truncated headers are the common corruption in a crawled corpus)."""
    import numpy as np

    from novlake_spark.operators.jpeg import decode_jpeg
    from novlake_spark.operators.multimodal import (
        decode_bmp, decode_gif, decode_png, decode_ppm,
    )

    cases = [
        (decode_bmp, b"BM"),
        (decode_ppm, b"P6"),
        (decode_png, b"\x89PNG\r\n\x1a\n"),
        (decode_gif, b"GIF89a"),
        (decode_jpeg, b"\xff\xd8"),
    ]
    for dec, magic in cases:
        try:
            out = dec(magic + tail)
            assert isinstance(out, np.ndarray)
        except ValueError:
            pass


@given(
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=0, max_value=255),
)
@settings(max_examples=60, deadline=None)
def test_progressive_jpeg_mutation_quarantine(pos, val):
    """Byte-mutation fuzz over a VALID progressive (SOF2, successive
    approximation, 4:2:0) stream: flipping any byte must either still
    decode to an array or quarantine as ValueError — never
    struct.error/IndexError/KeyError/MemoryError/hang. This drives the
    round-5 decode paths (DC/AC refinement, EOBRUN, interleaved MCU
    walk) that plain-garbage fuzz never reaches, because garbage dies
    in the header long before a progressive scan runs."""
    import numpy as np

    from novlake_spark.operators.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:24, 0:36]
    img = np.stack([xx * 5, yy * 7, xx + yy], axis=2).clip(0, 255).astype(np.uint8)
    data = bytearray(encode_jpeg(img, quality=70, subsampling="420", progressive=True))
    data[pos % len(data)] = val
    try:
        out = decode_jpeg(bytes(data))
        assert isinstance(out, np.ndarray)
    except ValueError:
        pass


# Skew-safe window family: randomized schedules. Deliberately
# collision-prone ts values so tie groups land on bucket boundaries;
# hot key 0 gets most rows; values are small ints (exactness contract).
skew_rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 3).map(lambda u: 0 if u else u),  # user (0-heavy)
        st.integers(0, 12),                               # ts
        st.integers(-50, 50),                             # value
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(rows=skew_rows_strategy, n_buckets=st.integers(2, 6), k=st.integers(1, 5))
def test_skew_safe_family_property(rows, n_buckets, k):
    """For ANY schedule of (user, ts, value), bucket count, and frame
    size: every member of the skew-safe window family equals its
    one-shot window (lag/cumsum/row_number bit-exact; moving average on
    integer values bit-exact via exact frame sums)."""
    from pyspark.sql.window import Window

    from novlake_spark.operators.skew import (
        skew_safe_cumsum, skew_safe_lag, skew_safe_moving_avg, skew_safe_row_number,
    )

    df = _spark.createDataFrame(
        [(i, u, t, float(v), v) for i, (u, t, v) in enumerate(rows)],
        "event_id long, user_id long, ts long, value double, v long",
    )
    order = ["ts", "event_id"]
    w = Window.partitionBy("user_id").orderBy(*order)

    naive = {r.event_id: r.x for r in df.select("event_id", F.lag("value").over(w).alias("x")).collect()}
    got = {r.event_id: r["_lag"] for r in skew_safe_lag(df, "user_id", order, "value", n_buckets=n_buckets).collect()}
    assert got == naive

    w_cs = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = {r.event_id: r.x for r in df.select("event_id", F.sum("v").over(w_cs).alias("x")).collect()}
    got = {r.event_id: r["_cumsum"] for r in skew_safe_cumsum(df, "user_id", order, "v", n_buckets=n_buckets).collect()}
    assert got == naive

    naive = {r.event_id: r.x for r in df.select("event_id", F.row_number().over(w).alias("x")).collect()}
    got = {r.event_id: r["_rn"] for r in skew_safe_row_number(df, "user_id", order, n_buckets=n_buckets).collect()}
    assert got == naive

    w_ma = w.rowsBetween(-(k - 1), Window.currentRow)
    naive = {r.event_id: r.x for r in df.select("event_id", F.avg("v").over(w_ma).alias("x")).collect()}
    got = {
        r.event_id: r["_mavg"]
        for r in skew_safe_moving_avg(df, "user_id", order, "v", frame_rows=k, n_buckets=n_buckets).collect()
    }
    assert got == naive


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=60, deadline=None)
def test_avi_decoder_never_crashes_on_garbage(tail):
    """The AVI container parser under the same quarantine contract as
    the image decoders: arbitrary bytes — bare AND with the RIFF/AVI
    magic forced so the chunk walker runs on garbage bodies — must
    raise ValueError or return frames, never struct.error/IndexError/
    MemoryError/hang."""
    from novlake_spark.operators.multimodal import decode_avi

    for data in (tail, b"RIFF" + tail, b"RIFF\x00\x01\x00\x00AVI " + tail):
        try:
            fps, w, h, frames = decode_avi(data)
            assert fps > 0 and isinstance(frames, list)
        except ValueError:
            pass


@given(
    st.integers(min_value=0, max_value=3000),
    st.integers(min_value=0, max_value=255),
)
@settings(max_examples=60, deadline=None)
def test_avi_mutation_quarantine(pos, val):
    """Byte-mutation fuzz over a VALID MJPEG AVI: any single-byte flip
    must still decode (possibly to different frame bytes) or quarantine
    as ValueError — the container walker's size checks make framing
    lies loud, never a crash five layers down."""
    import numpy as np

    from novlake_spark.operators.jpeg import encode_jpeg
    from novlake_spark.operators.multimodal import decode_avi

    px = np.zeros((16, 16, 3), dtype=np.uint8)
    px[4:8, 4:8] = 200
    good = bytearray(
        __import__("novlake_spark.operators.multimodal", fromlist=["encode_avi"]).encode_avi(
            [encode_jpeg(px), encode_jpeg(px)], fps=4, width=16, height=16
        )
    )
    good[pos % len(good)] = val
    try:
        fps, w, h, frames = decode_avi(bytes(good))
        assert isinstance(frames, list)
    except ValueError:
        pass


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=60, deadline=None)
def test_pdf_extractor_never_crashes_on_garbage(tail):
    """PDF extraction under the quarantine contract: arbitrary bytes —
    bare and with the %PDF magic forced — ValueError or a text list,
    never struct/Index/Key errors or MemoryError."""
    from novlake_spark.operators.pdftext import extract_pdf_text

    for data in (tail, b"%PDF-1.4\n" + tail):
        try:
            out = extract_pdf_text(data)
            assert isinstance(out, list)
        except ValueError:
            pass


@given(
    st.integers(min_value=0, max_value=2000),
    st.integers(min_value=0, max_value=255),
)
@settings(max_examples=60, deadline=None)
def test_pdf_mutation_quarantine(pos, val):
    """Single-byte mutations of a valid two-page PDF either still
    extract (possibly different text) or quarantine as ValueError."""
    from novlake_spark.operators.pdftext import encode_pdf, extract_pdf_text

    good = bytearray(encode_pdf(["alpha beta", "gamma (x) \\ y"]))
    good[pos % len(good)] = val
    try:
        out = extract_pdf_text(bytes(good))
        assert isinstance(out, list)
    except ValueError:
        pass


@given(st.text(max_size=600))
@settings(max_examples=80, deadline=None)
def test_html_extract_never_raises_on_arbitrary_text(s):
    """extract_text is the curation front door: ARBITRARY unicode —
    broken tags, lone ampersands, weird charrefs, control chars — must
    produce a string, never raise (html.parser's recovery is the
    contract; a crash here aborts a 100 TB curation job)."""
    from novlake_spark.operators.htmltext import extract_text

    out = extract_text(s)
    assert isinstance(out, str)
    # normalization invariant: no leading/trailing/double spaces
    assert out == " ".join(out.split())


@given(st.text(max_size=300))
@settings(max_examples=80, deadline=None)
def test_html_extract_idempotent_on_plain_text(s):
    """Text with no markup characters passes through modulo whitespace
    canonicalization — extraction never invents or eats content."""
    import html as _html

    from novlake_spark.operators.htmltext import extract_text

    plain = "".join(c for c in s if c not in "<>&\x00")
    assert extract_text(_html.escape(plain)) == " ".join(plain.split())


# --- kNN prefilter exactness (round 6): arbitrary score matrices ------

_score_cell = st.one_of(
    # quantized values maximize rounding-boundary ties (the fallback path)
    st.integers(-40, 40).map(lambda v: v / 4.0 / 10000.0 * 5000),
    st.floats(-1.0, 1.0, allow_nan=False, width=64),
)


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(st.lists(_score_cell, min_size=90, max_size=90), min_size=2, max_size=6),
    kk=st.integers(1, 8),
    seed=st.integers(0, 10_000),
)
def test_topk_final_order_equals_bruteforce(data, kk, seed):
    """The argpartition prefilter (operators/knn._topk_final_order) must
    be BIT-identical to the round-everything-lexsort form for any score
    matrix — hypothesis drives quantized grids (tie floods straddling
    the raw cut → the per-row proof FAILS → exact fallback) and smooth
    random scores (prefilter proof holds) through both paths."""
    import numpy as np

    from novlake_spark.operators import knn as K

    sims = np.array(data, dtype=np.float64)
    rng = np.random.RandomState(seed)
    b_ids = rng.permutation(sims.shape[1]).astype(np.int64)

    rounded = K._round_half_up_4dp(sims)
    want = np.lexsort((np.broadcast_to(b_ids, sims.shape), -rounded), axis=1)[:, :kk]
    got = K._topk_final_order(sims.copy(), b_ids, kk)
    assert np.array_equal(got, want)


# --- change feed folds snapshots forward: batch and stream --------------

_table_ops = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "overwrite", "merge", "delete", "delete_dv", "update", "restore"]
        ),
        st.integers(0, 9),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_table_ops, data=st.data())
def test_change_feed_folds_snapshot_forward(tmp_path_factory, ops, data):
    """For any history of append / overwrite / MERGE / plain and DV
    DELETE / UPDATE / RESTORE and any window ``(a, b]``:
    ``snapshot(a) ⊎ inserts == snapshot(b) ⊎ deletes`` as multisets —
    for ``TxTable.changes`` and for the streaming source's micro-batch
    (its planning and executor hooks, called directly)."""
    from collections import Counter

    from novlake_spark.sources.txlog_source import TxLogDataSource
    from novlake_spark.txlog import TxTable

    t = TxTable(_spark, str(tmp_path_factory.mktemp("cdf") / "t"))

    def rows(lo, n, tag):
        return _spark.createDataFrame(
            [(k, k * 10 + tag) for k in range(lo, lo + n)], "k long, v long"
        ).coalesce(1)

    t.commit(rows(0, 4, 0))
    for step, (op, x) in enumerate(ops, start=1):
        if op == "append":
            t.commit(rows(x, 2, step))
        elif op == "overwrite":
            t.commit(rows(x, 3, step), mode="overwrite")
        elif op == "merge":
            t.merge(rows(x, 2, step), key=["k"])
        elif op in ("delete", "delete_dv"):
            t.delete([("k", "=", x)], dv=op == "delete_dv")
        elif op == "update":
            t.update({"v": "v + 1"}, [("k", "=", x)], dv=x % 2 == 0)
        else:
            t.restore(x % (t.latest_version() + 1))
    latest = t.latest_version()
    a = data.draw(st.integers(-1, latest - 1), label="a")
    b = data.draw(st.integers(a + 1, latest), label="b")

    def snap(v):
        return Counter() if v < 0 else Counter((r.k, r.v) for r in t.read(version=v).collect())

    def fold(feed):
        ins = Counter((k, v) for k, v, c, _ in feed if c == "insert")
        dels = Counter((k, v) for k, v, c, _ in feed if c == "delete")
        return snap(a) + ins, snap(b) + dels

    batch = [
        (r.k, r.v, r._change_type, r._commit_version) for r in t.changes(a, b).collect()
    ]
    lhs, rhs = fold(batch)
    assert lhs == rhs, ("batch", ops, a, b)

    source = TxLogDataSource({"path": t.path, "readchangefeed": "true"})
    reader = source.streamReader(source.schema())
    stream = [
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for p in reader.partitions({"version": a}, {"version": b})
        for batch_ in reader.read(p)
        for r in batch_.to_pylist()
    ]
    lhs, rhs = fold(stream)
    assert lhs == rhs, ("stream", ops, a, b)
    assert Counter(stream) == Counter(batch)
