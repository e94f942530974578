"""Property-based row-count invariants (SURVEY §5.4): explode counts,
union arithmetic, dedup idempotence, join containment — on
hypothesis-generated data, not just the fixtures."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

SETTINGS = settings(max_examples=15, deadline=None)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=3), max_size=4
        ),
    ),
    min_size=1,
    max_size=20,
)


@SETTINGS
@given(data=rows)
def test_explode_count_is_sum_of_sizes(spark, data):
    df = spark.createDataFrame(data, "k int, xs array<string>")
    exploded = df.select("k", F.explode("xs").alias("x"))
    assert exploded.count() == sum(len(xs) for _, xs in data)


@SETTINGS
@given(a=rows, b=rows)
def test_union_count_is_sum(spark, a, b):
    da = spark.createDataFrame(a, "k int, xs array<string>")
    db = spark.createDataFrame(b, "k int, xs array<string>")
    assert da.unionByName(db).count() == len(a) + len(b)


@SETTINGS
@given(data=rows)
def test_dedup_idempotent(spark, data):
    df = spark.createDataFrame(
        [(k,) for k, _ in data], "k int"
    )
    once = df.dropDuplicates()
    assert once.count() == once.dropDuplicates().count()
    assert once.count() == len({k for k, _ in data})


@SETTINGS
@given(a=rows, b=rows)
def test_inner_join_within_left_join(spark, a, b):
    da = spark.createDataFrame([(k,) for k, _ in a], "k int")
    db = spark.createDataFrame(
        [(k,) for k, _ in b], "k int"
    ).dropDuplicates()
    inner = da.join(db, on="k", how="inner").count()
    left = da.join(db, on="k", how="left").count()
    assert inner <= left
    # with a deduped right side, left join preserves left cardinality
    assert left == len(a)


@SETTINGS
@given(data=rows)
def test_gapfill_grid_is_dense_and_locf_total(spark, data):
    """For any (user, day-offset) observation set: the gap-filled grid
    has exactly (max-min+1) days per user and filled_value is non-null
    from each user's first observation onward."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(k, len(xs)) for k, xs in data], "user_id int, off int"
    ).select(
        "user_id",
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("off")).alias(
            "day"
        ),
        F.lit(1.0).alias("day_value"),
    ).dropDuplicates(["user_id", "day"])
    grid = (
        df.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        grid.join(df, on=["user_id", "day"], how="left")
        .select(
            "user_id",
            "day",
            F.last("day_value", ignorenulls=True).over(w).alias("filled"),
        )
        .toPandas()
    )
    spans = (
        df.groupBy("user_id")
        .agg((F.datediff(F.max("day"), F.min("day")) + 1).alias("span"))
        .toPandas()
    )
    got = out.groupby("user_id").day.size()
    assert (
        got.sort_index() == spans.set_index("user_id").span.sort_index()
    ).all()
    assert out.filled.notna().all()  # first grid day is always observed


@SETTINGS
@given(data=rows)
def test_connected_components_labels_are_roots(spark, data):
    """Min-label propagation on arbitrary small edge lists: every
    label must itself be a member of its own component (a root), and
    endpoints of every edge must share a label."""
    edges = list(
        {(k, min(k + len(xs), 9)) for k, xs in data if len(xs) > 0}
    )
    nodes = sorted({n for e in edges for n in e} | {k for k, _ in data})
    ndf = spark.createDataFrame([(n,) for n in nodes], "node int")
    if edges:
        edf = spark.createDataFrame(edges, "a int, b int")
        sym = edf.selectExpr("a AS s", "b AS d").unionByName(
            edf.selectExpr("b AS s", "a AS d")
        )
    else:
        sym = ndf.selectExpr("node AS s", "node AS d").limit(0)
    eall = sym.unionByName(ndf.selectExpr("node AS s", "node AS d"))
    labels = ndf.select("node", F.col("node").alias("label"))
    for _ in range(12):  # > diameter of any 10-node graph
        labels = (
            eall.join(labels, eall.s == labels.node)
            .groupBy("d")
            .agg(F.min("label").alias("label"))
            .selectExpr("d AS node", "label")
        )
    lab = dict(labels.collect())
    for a, b in edges:
        assert lab[a] == lab[b]
    assert all(lab[lab[n]] == lab[n] for n in nodes)


@settings(max_examples=5, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        max_size=25,
    )
)
def test_star_contraction_matches_union_find(spark, data):
    """Large-star/small-star contraction on arbitrary small graphs must
    produce exactly the components of a reference union-find, labeled
    by each component's minimum node. Forces the DISTRIBUTED path (the
    round-11 driver fast path would otherwise run the same union-find
    as the reference below, testing nothing)."""
    from data_warehouse_co_healthy_spark.llm import dedup as _dedup
    from data_warehouse_co_healthy_spark.llm.dedup import star_contraction

    saved = _dedup.CC_DRIVER_EDGE_MAX
    _dedup.CC_DRIVER_EDGE_MAX = -1
    try:
        return _star_vs_union_find(spark, data, star_contraction)
    finally:
        _dedup.CC_DRIVER_EDGE_MAX = saved


def _star_vs_union_find(spark, data, star_contraction):

    edges = [(a, b) for a, b in data if a != b]
    nodes = sorted({n for e in edges for n in e})
    # reference union-find
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in nodes}

    if edges:
        edf = spark.createDataFrame(edges, "s long, d long")
    else:
        edf = spark.createDataFrame([], "s long, d long")
    parents, _rounds = star_contraction(edf)
    got = {int(r["node"]): int(r["root"]) for r in parents.collect()}
    for n in nodes:
        assert got.get(n, n) == want[n], (n, got.get(n, n), want[n])


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=60),
        min_size=2,
        max_size=4,
    )
)
def test_exact_substring_matches_bruteforce(spark, texts):
    """The gram-diagonal islands operator must report exactly the
    maximal shared character runs >= ESS_MIN_RUN that a brute-force
    per-diagonal scan finds — including offsets and lengths — on
    low-entropy random strings (maximum gram collision pressure)."""
    import os
    import tempfile

    import pandas as pd

    from data_warehouse_co_healthy_spark.llm.dedup import (
        ESS_MIN_RUN,
        exact_substring_matches,
    )

    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = tempfile.mkdtemp(prefix="ess_prop_")
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)

    def brute(sa: str, sb: str) -> set:
        out = set()
        for diag in range(-(len(sb) - 1), len(sa)):
            run, start = 0, 0
            lo = max(0, diag)
            hi = min(len(sa), len(sb) + diag)
            for i in range(lo, hi):
                if sa[i] == sb[i - diag]:
                    if run == 0:
                        start = i
                    run += 1
                else:
                    if run >= ESS_MIN_RUN:
                        out.add((start + 1, start - diag + 1, run))
                    run = 0
            if run >= ESS_MIN_RUN:
                out.add((start + 1, start - diag + 1, run))
        return out

    want = set()
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            for sa, sb, rl in brute(texts[a].lower(), texts[b].lower()):
                want.add((a, b, sa, sb, rl))

    got = {
        (int(r.doc_a), int(r.doc_b), int(r.a_start), int(r.b_start),
         int(r.run_len))
        for r in exact_substring_matches(spark, d).collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=60),
        min_size=2,
        max_size=4,
    )
)
def test_duplicate_spans_bruteforce(spark, texts):
    """The span-grain dedup operator must report exactly the maximal
    per-document spans whose every ESS_K-gram occurs >= 2 times in the
    corpus (counting all occurrences, same-doc included), on
    low-entropy strings — maximum gram-collision pressure for the
    xxhash64 fingerprint path."""
    import os
    import tempfile

    import pandas as pd

    from data_warehouse_co_healthy_spark.llm.dedup import (
        ESS_K,
        ESS_MIN_RUN,
        duplicate_spans,
    )

    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = tempfile.mkdtemp(prefix="dspan_prop_")
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)

    low = [t.lower() for t in texts]
    from collections import Counter

    occ = Counter(
        t[i : i + ESS_K]
        for t in low
        for i in range(len(t) - ESS_K + 1)
    )
    want = set()
    for doc_id, t in enumerate(low):
        dup_pos = [
            i + 1
            for i in range(len(t) - ESS_K + 1)
            if occ[t[i : i + ESS_K]] >= 2
        ]
        run = []
        for p in dup_pos + [None]:
            if run and (p is None or p != run[-1] + 1):
                span_len = run[-1] - run[0] + ESS_K
                if span_len >= ESS_MIN_RUN:
                    want.add((doc_id, run[0], span_len))
                run = []
            if p is not None:
                run.append(p)
    got = {
        (int(r.doc_id), int(r.span_start), int(r.span_len))
        for r in duplicate_spans(spark, d).collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=60),
        min_size=2,
        max_size=4,
    )
)
def test_cut_duplicate_spans_bruteforce(spark, texts):
    """The cut transformation must equal a pure-python replay: find
    duplicated positions, island them into spans, merge overlapping
    char spans, cut them out of the lowercased text, and compare the
    cleaned text (via md5 + length), span count and chars cut."""
    import hashlib
    import os
    import tempfile
    from collections import Counter

    import pandas as pd

    from data_warehouse_co_healthy_spark.llm.dedup import (
        ESS_K,
        ESS_MIN_RUN,
        cut_duplicate_spans,
    )

    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = tempfile.mkdtemp(prefix="dcut_prop_")
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)

    low = [t.lower() for t in texts]
    occ = Counter(
        t[i : i + ESS_K]
        for t in low
        for i in range(len(t) - ESS_K + 1)
    )

    def spans_of(t: str) -> list:
        dup_pos = [
            i + 1
            for i in range(len(t) - ESS_K + 1)
            if occ[t[i : i + ESS_K]] >= 2
        ]
        out, run = [], []
        for p in dup_pos + [None]:
            if run and (p is None or p != run[-1] + 1):
                if run[-1] - run[0] + ESS_K >= ESS_MIN_RUN:
                    out.append((run[0], run[-1] + ESS_K - 1))
                run = []
            if p is not None:
                run.append(p)
        return out

    want = {}
    for doc_id, t in enumerate(low):
        merged = []
        for ms, me in spans_of(t):  # already sorted by start
            if merged and ms <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], me))
            else:
                merged.append((ms, me))
        clean, cur = [], 1
        for ms, me in merged:
            clean.append(t[cur - 1 : ms - 1])
            cur = me + 1
        clean.append(t[cur - 1 :])
        txt = "".join(clean)
        want[doc_id] = (
            len(merged),
            sum(me - ms + 1 for ms, me in merged),
            len(txt),
            hashlib.md5(txt.encode()).hexdigest(),
        )
    got = {
        int(r.doc_id): (
            int(r.n_spans),
            int(r.chars_cut),
            int(r.clean_len),
            r.clean_fp,
        )
        for r in cut_duplicate_spans(spark, d).collect()
    }
    assert got == want


def _events_parquet(rows):
    """Write a synthetic events fixture; rows = (user_id, event_type,
    offset_sec). Returns the directory."""
    import datetime
    import os
    import tempfile

    import pandas as pd

    base = datetime.datetime(2024, 1, 1)
    df = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [
                base + datetime.timedelta(seconds=off)
                for _, _, off in rows
            ],
            "user_id": [u for u, _, _ in rows],
            "event_type": [t for _, t, _ in rows],
            "value": [float(i) for i in range(len(rows))],
            "props": ["{}"] * len(rows),
        }
    )
    d = tempfile.mkdtemp(prefix="ev_prop_")
    df.to_parquet(
        os.path.join(d, "events.parquet"), index=False,
        coerce_timestamps="us",
    )
    return d


# offsets cluster around bucket multiples (300/600) to probe the
# bucketized joins' boundary arithmetic
_offsets = st.one_of(
    st.integers(min_value=0, max_value=1800),
    st.builds(
        lambda k, d: k * 300 + d,
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=-1, max_value=1),
    ),
)
_ev_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.sampled_from(["signup", "click", "error"]),
        _offsets,
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=5, deadline=None)
@given(rows=_ev_rows)
def test_range_join_activity_matches_bruteforce(spark, rows):
    """The bucketized point-in-window range join must count exactly
    the events in (signup_ts, signup_ts + W] per signup — boundary
    offsets at bucket multiples included."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        RANGE_WINDOW_SEC,
        range_join_activity,
    )

    d = _events_parquet(rows)
    got = {
        int(r["signup_id"]): int(r["n_follow"])
        for r in range_join_activity(spark, d).collect()
    }
    want = {}
    for i, (u, t, off) in enumerate(rows):
        if t != "signup":
            continue
        want[i] = sum(
            1
            for j, (u2, _, off2) in enumerate(rows)
            if u2 == u and off < off2 <= off + RANGE_WINDOW_SEC
        )
    assert got == want


@settings(max_examples=5, deadline=None)
@given(rows=_ev_rows)
def test_interval_overlap_join_matches_bruteforce(spark, rows):
    """The interval×interval bucketized join must find exactly the
    (session, incident) overlaps with exact overlap durations that a
    brute-force all-pairs scan finds (sessions re-derived in Python
    with the same gap rule)."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        INCIDENT_PAD_SEC,
        SESSION_GAP_SEC,
        interval_overlap_join,
    )

    d = _events_parquet(rows)
    # brute sessions: per user, sort by (offset, event_id), split on
    # gap > SESSION_GAP_SEC; session_id = running break count
    by_user: dict = {}
    for i, (u, t, off) in enumerate(rows):
        by_user.setdefault(u, []).append((off, i))
    sessions = []  # (user, session_id, start, end)
    for u, evs in by_user.items():
        evs.sort()
        sid, start, end = 0, None, None
        for off, _i in evs:
            if start is None:
                start, end = off, off
            elif off - end > SESSION_GAP_SEC:
                sessions.append((u, sid, start, end))
                sid += 1
                start, end = off, off
            else:
                end = off
        sessions.append((u, sid, start, end))
    want = set()
    for i, (u, t, off) in enumerate(rows):
        if t != "error":
            continue
        i_start, i_end = off - INCIDENT_PAD_SEC, off + INCIDENT_PAD_SEC
        for (su, sid, s0, s1) in sessions:
            if su == u and s0 <= i_end and i_start <= s1:
                ov = min(s1, i_end) - max(s0, i_start)
                want.add((u, sid, i, ov))
    got = {
        (int(r["user_id"]), int(r["session_id"]), int(r["incident_id"]),
         int(r["overlap_sec"]))
        for r in interval_overlap_join(spark, d).collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(rows=_ev_rows)
def test_asof_join_matches_bruteforce(spark, rows):
    """Union-merge as-of join semantics on random data with timestamp
    ties: every purchase must attribute to the latest click
    AT-or-before it (>= tie rule), NULL when none exists."""
    from data_warehouse_co_healthy_spark.operators.temporal import asof_join

    # reuse signup as 'purchase' stand-in by remapping types
    remapped = [
        (u, {"signup": "purchase", "click": "click", "error": "view"}[t], o)
        for u, t, o in rows
    ]
    d = _events_parquet(remapped)
    got = {
        int(r["event_id"]): (
            None if r["click_ts"] is None else int(r["gap_sec"])
        )
        for r in asof_join(spark, d).collect()
    }
    want = {}
    for i, (u, t, off) in enumerate(remapped):
        if t != "purchase":
            continue
        clicks = [
            o2
            for (u2, t2, o2) in remapped
            if u2 == u and t2 == "click" and o2 <= off
        ]
        want[i] = (off - max(clicks)) if clicks else None
    assert got == want


@settings(max_examples=5, deadline=None)
@given(rows=_ev_rows)
def test_scd2_matches_bruteforce(spark, rows):
    """SCD2 state history on random change streams: consecutive
    duplicate states collapse, intervals chain with no gaps, exactly
    one current row per user, and the version list equals a direct
    Python scan (ties broken by event_id, same as the engine)."""
    from data_warehouse_co_healthy_spark.operators.warehouse import (
        scd2_user_state,
    )

    d = _events_parquet(rows)
    got = sorted(
        (int(r["user_id"]), r["state"], r["valid_from"],
         r["valid_to"], bool(r["is_current"]))
        for r in scd2_user_state(spark, d).collect()
    )
    import datetime

    base = datetime.datetime(2024, 1, 1)
    by_user: dict = {}
    for i, (u, t, off) in enumerate(rows):
        by_user.setdefault(u, []).append((off, i, t))
    want = []
    for u, evs in by_user.items():
        evs.sort()
        versions = []
        for off, _i, t in evs:
            if not versions or versions[-1][1] != t:
                versions.append((off, t))
        for k, (off, t) in enumerate(versions):
            nxt = (
                base + datetime.timedelta(seconds=versions[k + 1][0])
                if k + 1 < len(versions)
                else None
            )
            want.append(
                (u, t, base + datetime.timedelta(seconds=off), nxt,
                 nxt is None)
            )
    assert got == sorted(want)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="abcd", min_size=1, max_size=6),
            min_size=1,
            max_size=30,
        ).map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=6,
    )
)
def test_chunk_dedup_roundtrip_on_unique_docs(spark, texts):
    """chunk_dedup_reassemble on docs whose chunks are corpus-unique
    must reproduce every original text byte-for-byte; docs losing all
    chunks must vanish entirely (never emit an empty shell)."""
    import os
    import tempfile

    import pandas as pd

    from data_warehouse_co_healthy_spark.llm.dedup import (
        CHUNK_MAX_FREQ,
        CHUNK_WORDS,
        chunk_dedup_reassemble,
    )

    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = tempfile.mkdtemp(prefix="chunk_prop_")
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    out = chunk_dedup_reassemble(spark, d).toPandas().set_index("doc_id")

    # brute: chunk every doc, count corpus-wide, keep rare chunks
    from collections import Counter

    def chunks(t):
        ws = t.split(" ")
        return [
            " ".join(ws[i : i + CHUNK_WORDS])
            for i in range(0, len(ws), CHUNK_WORDS)
        ]

    freq = Counter(c for t in texts for c in chunks(t))
    for i, t in enumerate(texts):
        kept = [c for c in chunks(t) if freq[c] <= CHUNK_MAX_FREQ]
        if not kept:
            assert i not in out.index
        else:
            assert out.loc[i, "cleaned_text"] == " ".join(kept)
            assert out.loc[i, "kept_chunks"] == len(kept)


@settings(max_examples=100, deadline=None)
@given(data=st.binary(min_size=0, max_size=300))
def test_image_codec_never_crashes_on_fuzz(data):
    """The vendored decoder on arbitrary bytes must either raise
    ValueError (the documented contract) or return a valid H x W x 3
    uint8 array — never any other exception, hang, or huge
    allocation."""
    from data_warehouse_co_healthy_spark.llm import imagecodec

    try:
        img = imagecodec.decode(data)
    except ValueError:
        return
    assert img.ndim == 3 and img.shape[2] == 3 and img.dtype == "uint8"


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    flip_at=st.integers(min_value=0, max_value=120),
    flip_to=st.integers(min_value=0, max_value=255),
)
def test_image_codec_header_mutations_fail_loudly_or_decode(w, h, flip_at, flip_to):
    """Single-byte mutations of a valid BMP must decode (possibly to
    different pixels) or raise ValueError — nothing else. Mutating
    raster bytes must never change the decoded SHAPE."""
    import numpy as np

    from data_warehouse_co_healthy_spark.llm import imagecodec

    img = np.zeros((h, w, 3), dtype=np.uint8)
    enc = bytearray(imagecodec.encode_bmp(img))
    if flip_at >= len(enc):
        return
    enc[flip_at] = flip_to
    try:
        out = imagecodec.decode_bmp(bytes(enc))
    except ValueError:
        return
    if flip_at >= 54:  # raster-only mutation: shape must be intact
        assert out.shape == (h, w, 3)


_XLS_PATH = "/root/reference/medicamentos.xls"


@settings(max_examples=80, deadline=None)
@given(data=st.binary(min_size=0, max_size=2048))
def test_xls_reader_never_crashes_on_fuzz(data):
    """The vendored BIFF8/OLE2 reader on arbitrary bytes must either
    parse or raise ValueError — never hang (FAT cycles are detected),
    never blow memory (sector shift bounded), never leak struct/index
    errors."""
    import os
    import tempfile

    from data_warehouse_co_healthy_spark.sources.xls import read_xls_rows

    fd, p = tempfile.mkstemp(suffix=".xls")
    try:
        with os.fdopen(fd, "wb") as f:
            # valid magic half the time so parsing goes DEEP
            f.write(
                (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + data)
                if data[:1] >= b"\x80"
                else data
            )
        try:
            read_xls_rows(p)
        except (ValueError, IndexError):
            pass
    finally:
        os.unlink(p)


@settings(max_examples=40, deadline=None)
@given(
    flip_at=st.integers(min_value=0, max_value=40000),
    flip_to=st.integers(min_value=0, max_value=255),
)
def test_xls_reader_byteflips_of_real_catalog(flip_at, flip_to):
    """Single byte flips of the REAL reference catalog must parse or
    raise ValueError/IndexError — the deep-structure fuzz a random
    blob can't reach (valid container, corrupted records)."""
    import os
    import tempfile

    import pytest as _pytest

    from data_warehouse_co_healthy_spark.sources.xls import read_xls_rows

    if not os.path.exists(_XLS_PATH):
        _pytest.skip("reference catalog absent")
    raw = bytearray(open(_XLS_PATH, "rb").read())
    if flip_at >= len(raw):
        return
    raw[flip_at] = flip_to
    fd, p = tempfile.mkstemp(suffix=".xls")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(bytes(raw))
        try:
            read_xls_rows(p)
        except (ValueError, IndexError):
            pass
    finally:
        os.unlink(p)


_pii_bits = st.one_of(
    st.text(alphabet="abc @.-/:5", min_size=0, max_size=12),
    st.sampled_from(
        [
            "bob@ex.com",
            "a.b-c%d@mail.co.uk",
            "https://ex.org/p?q=1",
            "http://a.b/c@d.ee",
            "555-123-4567",
            "123-456-7890-123-4567",
            "x@y.cc@z.org",
            "@no.local",
            "user@@double.com",
        ]
    ),
)


@settings(max_examples=10, deadline=None)
@given(parts=st.lists(_pii_bits, min_size=1, max_size=12))
def test_pii_redaction_reaches_fixpoint(spark, parts):
    """The email→URL→phone redaction cascade, applied with the
    ENGINE's regex semantics, must leave text with ZERO remaining
    matches of any of the three patterns — replacements must never
    synthesize new PII-shaped spans (adversarial fragments include
    nested/overlapping candidates)."""
    from data_warehouse_co_healthy_spark.llm.filters import (
        EMAIL_RE,
        PHONE_RE,
        URL_RE,
    )

    text = " ".join(parts)
    df = spark.createDataFrame([(text,)], "t string")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    row = df.select(
        redacted.alias("r"),
        F.size(F.regexp_extract_all(redacted, F.lit(EMAIL_RE), F.lit(0))).alias("e"),
        F.size(F.regexp_extract_all(redacted, F.lit(URL_RE), F.lit(0))).alias("u"),
        F.size(F.regexp_extract_all(redacted, F.lit(PHONE_RE), F.lit(0))).alias("p"),
    ).first()
    assert row["e"] == 0, row["r"]
    assert row["u"] == 0, row["r"]
    assert row["p"] == 0, row["r"]


@settings(max_examples=5, deadline=None)
@given(rows=_ev_rows)
def test_funnel_stages_matches_bruteforce(spark, rows):
    """Ordered-funnel semantics on random streams: a stage counts only
    when it first occurs STRICTLY AFTER the previous stage's first
    occurrence — equality ties must not count (pinned against a direct
    per-user scan)."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        funnel_stages,
    )

    remapped = [
        (u, {"signup": "view", "click": "click", "error": "purchase"}[t], o)
        for u, t, o in rows
    ]
    d = _events_parquet(remapped)
    got = funnel_stages(spark, d).collect()[0]

    firsts: dict = {}
    for u, t, off in remapped:
        cur = firsts.setdefault(u, {})
        cur[t] = min(cur.get(t, off), off)
    n_viewed = n_clicked = n_bought = 0
    for u, f in firsts.items():
        if "view" not in f:
            continue
        n_viewed += 1
        if "click" in f and f["click"] > f["view"]:
            n_clicked += 1
            if "purchase" in f and f["purchase"] > f["click"]:
                n_bought += 1
    assert got["n_viewed"] == n_viewed
    assert got["n_clicked_after_view"] == n_clicked
    assert got["n_purchased_after_click"] == n_bought


# non-whitespace, non-control symbols — includes quotes, backslashes,
# regex metachars, and astral-plane codepoints, the classes that stress
# _merge_fold_sql's SQL-literal generation and split('')'s codepoint
# semantics
_bpe_word = st.text(
    alphabet=st.characters(
        blacklist_categories=("Z", "C"), min_codepoint=33
    ),
    min_size=1,
    max_size=5,
)


@settings(max_examples=8, deadline=None)
@given(words=st.lists(_bpe_word, min_size=1, max_size=12))
def test_bpe_distributed_fold_matches_python_reference(spark, words):
    """BPE rules learned on arbitrary vocabularies and applied through
    ``_merge_fold_sql`` (codegen folds over SQL string literals built
    from learned symbols) must segment every word EXACTLY like a
    pure-Python leftmost-first apply. The trainer must learn the
    reference's rules too — counts, tie-breaks and early exhaustion
    included. Random symbols cover the escaping surface (quotes,
    backslashes, regex metachars, emoji) that fixture corpora never
    touch."""
    from collections import Counter

    from pyspark.sql import functions as F

    from data_warehouse_co_healthy_spark.llm import training

    counts = Counter(words)
    wc = spark.createDataFrame(
        [(w, c) for w, c in counts.items()], "word string, cnt long"
    )
    orig_merges = training.BPE_MERGES
    training.BPE_MERGES = 3
    try:
        learned = [
            (r["rank"], r["left"], r["right"], r["pair_count"])
            for r in training._bpe_merges_from_counts(spark, wc)
            .orderBy("rank")
            .collect()
        ]
    finally:
        training.BPE_MERGES = orig_merges
    want = training._bpe_merge_rules_python(
        [(tuple(w), c) for w, c in counts.items()], 3
    )
    assert learned == want

    expr = "ws"
    for _, left, right, _ in learned:
        expr = training._merge_fold_sql(expr, left, right)
    got = {
        r["word"]: list(r["seg"])
        for r in wc.select(
            "word",
            F.expr("transform(split(word, ''), x -> x)").alias("ws"),
        )
        .select("word", F.expr(expr).alias("seg"))
        .collect()
    }

    def apply(word):
        sym = list(word)
        for _, left, right, _ in learned:
            out: list[str] = []
            for x in sym:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            sym = out
        return sym

    assert got == {w: apply(w) for w in counts}


# customer-like micro-tables for the privacy-audit trio: few distinct
# QI values so groups actually collide, balances crossing band edges
# (incl. negatives — floor must band them consistently)
_priv_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),              # nation
        st.sampled_from([-999.99, -1.0, 0.0, 999.5, 1000.0, 2500.0]),
        st.sampled_from(["AUTO", "HOUSE", "SHIP"]),         # segment
    ),
    min_size=1,
    max_size=30,
)


def _priv_df(spark, rows):
    return spark.createDataFrame(
        rows, "c_nationkey int, c_acctbal double, c_mktsegment string"
    )


def _priv_groups(rows):
    import math
    from collections import Counter, defaultdict

    by_group: dict = defaultdict(Counter)
    for nat, bal, seg in rows:
        by_group[(nat, math.floor(bal / 1000))][seg] += 1
    return by_group


@settings(max_examples=15, deadline=None)
@given(rows=_priv_rows)
def test_k_anonymity_audit_matches_python_reference(spark, rows):
    from data_warehouse_co_healthy_spark.operators.warehouse import (
        K_ANON,
        k_anonymity_audit,
    )

    got = k_anonymity_audit(spark, "", source=_priv_df(spark, rows)).first()
    # the engine's QI includes the segment; rebuild at that grain
    import math
    from collections import Counter

    g = Counter(
        (nat, seg, math.floor(bal / 1000)) for nat, bal, seg in rows
    )
    at_risk = sum(n for n in g.values() if n < K_ANON)
    assert got["n_qi_groups"] == len(g)
    assert got["k_anonymity"] == min(g.values())
    assert got["n_groups_below_k"] == sum(
        1 for n in g.values() if n < K_ANON
    )
    assert got["n_records_at_risk"] == at_risk
    assert abs(got["risk_rate"] - at_risk / len(rows)) < 2e-6


@settings(max_examples=15, deadline=None)
@given(rows=_priv_rows)
def test_l_diversity_audit_matches_python_reference(spark, rows):
    from data_warehouse_co_healthy_spark.operators.warehouse import (
        L_DIV,
        l_diversity_audit,
    )

    got = l_diversity_audit(spark, "", source=_priv_df(spark, rows)).first()
    by_group = _priv_groups(rows)
    ls = {k: len(c) for k, c in by_group.items()}
    exposed = sum(
        sum(c.values()) for k, c in by_group.items() if ls[k] < L_DIV
    )
    assert got["n_qi_groups"] == len(by_group)
    assert got["l_diversity"] == min(ls.values())
    assert got["n_groups_below_l"] == sum(1 for v in ls.values() if v < L_DIV)
    assert abs(got["exposed_rate"] - exposed / len(rows)) < 2e-6


@settings(max_examples=15, deadline=None)
@given(rows=_priv_rows)
def test_t_closeness_audit_matches_python_reference(spark, rows):
    from collections import Counter

    from data_warehouse_co_healthy_spark.operators.warehouse import (
        T_CLOSE,
        t_closeness_audit,
    )

    got = t_closeness_audit(spark, "", source=_priv_df(spark, rows)).first()
    by_group = _priv_groups(rows)
    glob = Counter()
    for c in by_group.values():
        glob.update(c)
    n_total = sum(glob.values())
    tvds = []
    for c in by_group.values():
        n_group = sum(c.values())
        tvd = (
            sum(
                abs(c.get(s, 0) / n_group - glob[s] / n_total)
                for s in glob
            )
            / 2
        )
        tvds.append(tvd)
    assert got["n_qi_groups"] == len(by_group)
    assert abs(got["max_tvd"] - max(tvds)) < 2e-6
    assert abs(got["avg_tvd"] - sum(tvds) / len(tvds)) < 2e-6
    assert got["n_groups_above_t"] == sum(1 for t in tvds if t > T_CLOSE)


@settings(max_examples=8, deadline=None)
@given(
    docs_words=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_ngram_containment_matches_bruteforce(spark, docs_words):
    """Containment pairs vs a brute-force Python reference on tiny
    low-alphabet corpora (maximum shared-gram pressure): identical
    pair set and identical rounded scores in both directions. The
    reference recomputes gram sets, sizes-BEFORE-df-cap, intersection
    and the either-direction threshold independently."""
    import os
    import tempfile

    import pandas as pd

    from data_warehouse_co_healthy_spark.llm.dedup import (
        CONTAIN_MIN,
        MAX_DOCFREQ,
        ngram_containment_pairs,
    )

    texts = [" ".join(ws) for ws in docs_words]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
        }
    )
    docs["n_chars"] = docs.text.str.len().astype("int64")
    d = tempfile.mkdtemp(prefix="cont_prop_")
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)

    grams = {}
    for i, t in enumerate(texts):
        ws = t.lower().split(" ")
        if len(ws) >= 3:
            grams[i] = {
                " ".join(ws[j : j + 3]) for j in range(len(ws) - 2)
            }
    df_count: dict[str, int] = {}
    for gs in grams.values():
        for g in gs:
            df_count[g] = df_count.get(g, 0) + 1
    want = {}
    ids = sorted(grams)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            rare_a = {g for g in grams[a] if df_count[g] <= MAX_DOCFREQ}
            rare_b = {g for g in grams[b] if df_count[g] <= MAX_DOCFREQ}
            inter = len(rare_a & rare_b)
            if not inter:
                continue
            ca = round(inter / len(grams[a]), 4)
            cb = round(inter / len(grams[b]), 4)
            if max(ca, cb) >= CONTAIN_MIN:
                want[(a, b)] = (ca, cb)

    got = {
        (r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
        for r in ngram_containment_pairs(spark, d).collect()
    }
    assert got == want


# lifetimes in whole days (plus jitter within the day) so the KM
# duration grain is exercised, including ties and the censor horizon
_km_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),             # user
        st.just("click"),
        st.builds(
            lambda d, s: d * 86400 + s,
            st.integers(min_value=0, max_value=12),        # day
            st.integers(min_value=0, max_value=86399),     # within-day
        ),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(rows=_km_rows)
def test_kaplan_meier_matches_bruteforce(spark, rows):
    """The engine's KM curve must equal a pure-Python Kaplan-Meier over
    the same per-user lifetimes — censoring convention, at-risk
    bookkeeping, and the zero-factor guard included (all-users-churn
    inputs drive the final factor to 0)."""
    import datetime

    from data_warehouse_co_healthy_spark.operators.temporal import (
        KM_CENSOR_DAYS,
        kaplan_meier_churn,
    )

    d = _events_parquet(rows)
    base = datetime.date(2024, 1, 1)
    span: dict[int, tuple[int, int]] = {}
    for u, _, off in rows:
        day = off // 86400
        lo, hi = span.get(u, (day, day))
        span[u] = (min(lo, day), max(hi, day))
    obs_end = max(hi for _, hi in span.values())
    per_t: dict[int, list[int]] = {}
    for lo, hi in span.values():
        dur = hi - lo
        censored = (obs_end - hi) < KM_CENSOR_DAYS
        dd, cc = per_t.get(dur, [0, 0])
        per_t[dur] = [dd + (not censored), cc + censored]
    want = {}
    n_risk = len(span)
    surv = 1.0
    hit_zero = False
    for dur in sorted(per_t):
        dd, cc = per_t[dur]
        factor = 1.0 - dd / n_risk
        hit_zero = hit_zero or factor == 0
        surv = 0.0 if hit_zero else surv * factor
        want[dur] = (n_risk, dd, cc, surv)
        n_risk -= dd + cc
    assert n_risk == 0
    got = {
        int(r["duration_days"]): (
            int(r["n_risk"]),
            int(r["n_churned"]),
            int(r["n_censored"]),
            float(r["survival"]),
        )
        for r in kaplan_meier_churn(spark, d).collect()
    }
    assert set(got) == set(want)
    for dur, (nr, dd, cc, surv) in want.items():
        gnr, gdd, gcc, gsurv = got[dur]
        assert (gnr, gdd, gcc) == (nr, dd, cc), dur
        assert abs(gsurv - surv) < 6e-5, (dur, gsurv, surv)


_attrib_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),             # user
        st.sampled_from(["click", "view", "signup", "purchase"]),
        st.integers(min_value=0, max_value=6 * 86400),     # offset sec
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(rows=_attrib_rows)
def test_attribution_matches_bruteforce(spark, rows):
    """First/last/linear credits must equal an all-pairs Python
    recompute: each touch binds to the next purchase by the same user,
    eligibility is (conv_ts - W, conv_ts), and linear credit splits
    1/n across the path."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        ATTRIB_WINDOW_SEC,
        attribution_report,
    )

    d = _events_parquet(rows)
    by_user: dict[int, list[tuple[int, int, str]]] = {}
    for i, (u, t, off) in enumerate(rows):
        by_user.setdefault(u, []).append((off, i, t))
    want: dict[str, list[float]] = {}

    def bump(ch, touches_, ft, lt, lin):
        agg = want.setdefault(ch, [0, 0, 0, 0.0])
        agg[0] += touches_
        agg[1] += ft
        agg[2] += lt
        agg[3] += lin

    for evs in by_user.values():
        evs.sort()
        paths: dict[int, list[tuple[int, int, str]]] = {}
        conv_ts: dict[int, int] = {}
        cum = 0
        for off, i, t in evs:
            if t == "purchase":
                cum += 1
                conv_ts[cum] = off
            else:
                paths.setdefault(cum + 1, []).append((off, i, t))
        for g, touches in paths.items():
            if g not in conv_ts:
                continue
            ct = conv_ts[g]
            elig = [
                (off, i, t)
                for off, i, t in touches
                if off < ct and off >= ct - ATTRIB_WINDOW_SEC
            ]
            if not elig:
                continue
            for k, (off, i, t) in enumerate(elig):
                bump(
                    t,
                    1,
                    k == 0,
                    k == len(elig) - 1,
                    1.0 / len(elig),
                )
    got = {
        r["channel"]: (
            int(r["touches"]),
            int(r["first_touch"]),
            int(r["last_touch"]),
            float(r["linear_credit"]),
        )
        for r in attribution_report(spark, d).collect()
    }
    assert set(got) == set(want)
    for ch, (touches_, ft, lt, lin) in want.items():
        gt, gf, gl, glin = got[ch]
        assert (gt, gf, gl) == (touches_, ft, lt), ch
        assert abs(glin - lin) < 6e-5, (ch, glin, lin)


_twap_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),             # user
        st.sampled_from(["purchase", "click"]),
        st.integers(min_value=0, max_value=3 * 86400 - 1), # offset sec
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda r: (r[0], r[2]),  # no same-user ts collisions
)


@settings(max_examples=10, deadline=None)
@given(rows=_twap_rows)
def test_twap_matches_bruteforce(spark, rows):
    """Per-user-day TWAP must equal a pure-Python recompute: each
    purchase weighted by seconds until the next purchase that day
    (midnight for the last), non-purchase events ignored."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        twap_daily,
    )

    d = _events_parquet(rows)
    by_ud: dict[tuple[int, int], list[tuple[int, float]]] = {}
    for i, (u, t, off) in enumerate(rows):
        if t != "purchase":
            continue
        by_ud.setdefault((u, off // 86400), []).append(
            (off, float(i))  # _events_parquet sets value = row index
        )
    want = {}
    for (u, day), obs in by_ud.items():
        obs.sort()
        total = 0.0
        wsum = 0.0
        for k, (off, val) in enumerate(obs):
            nxt = obs[k + 1][0] if k + 1 < len(obs) else (day + 1) * 86400
            dur = nxt - off
            total += val * dur
            wsum += dur
        want[(u, f"2024-01-{day + 1:02d}")] = (len(obs), total / wsum)
    got = {
        (r["user_id"], r["day"]): (int(r["n_obs"]), float(r["twap"]))
        for r in twap_daily(spark, d).collect()
    }
    assert set(got) == set(want)
    for k, (n, tw) in want.items():
        assert got[k][0] == n, k
        assert abs(got[k][1] - tw) < 6e-5, (k, got[k][1], tw)


def test_attribution_counts_null_channel_touches(spark):
    """A NULL event_type is a (NULL-channel) touch, not a dropped row —
    the fixture has no NULL types, so this pins the when/otherwise
    is_p semantics (a bare ==-cast yields NULL and silently drops the
    row) against a hand-built fixture."""
    import datetime
    import os
    import tempfile

    import pandas as pd

    from data_warehouse_co_healthy_spark.operators.temporal import (
        attribution_report,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1: NULL-type touch, click, purchase — path of 2 touches
        (0, base + datetime.timedelta(seconds=10), 1, None),
        (1, base + datetime.timedelta(seconds=20), 1, "click"),
        (2, base + datetime.timedelta(seconds=30), 1, "purchase"),
    ]
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": pd.array(
                [r[3] for r in rows], dtype="string"
            ),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    d = tempfile.mkdtemp(prefix="ev_null_")
    df.to_parquet(
        os.path.join(d, "events.parquet"), index=False,
        coerce_timestamps="us",
    )

    got = {
        r["channel"]: (
            int(r["touches"]),
            int(r["first_touch"]),
            int(r["last_touch"]),
            float(r["linear_credit"]),
        )
        for r in attribution_report(spark, d).collect()
    }
    # the NULL channel opens the 2-touch path, click closes it
    assert got == {
        None: (1, 1, 0, 0.5),
        "click": (1, 0, 1, 0.5),
    }, got


def test_top_event_paths_null_propagates_and_sorts_last(spark):
    """A NULL event_type inside a complete 3-step window must NULL the
    whole path (concat semantics, like the oracle's || chain — NOT
    concat_ws, which would silently shorten it) and the NULL path
    group must sort AFTER string paths on equal counts (NULLS LAST is
    pinned on both engines)."""
    import datetime
    import os
    import tempfile

    import pandas as pd

    from data_warehouse_co_healthy_spark.operators.temporal import (
        top_event_paths,
    )

    base = datetime.datetime(2024, 1, 1)
    # user 1 yields two NULL paths AND one "b > c > d"; user 2 yields
    # another "b > c > d" — a genuine n=2 TIE between the string path
    # and the NULL group, exercising the NULLS LAST pin at the cut
    per_user = {1: ["a", None, "b", "c", "d"],
                2: ["b", "c", "d"]}
    recs = []
    i = 0
    for uid, types in per_user.items():
        for t in types:
            recs.append(
                (i, base + datetime.timedelta(seconds=10 * i), uid, t)
            )
            i += 1
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in recs],
            "ts": [r[1] for r in recs],
            "user_id": [r[2] for r in recs],
            "event_type": pd.array(
                [r[3] for r in recs], dtype="string"
            ),
            "value": [1.0] * len(recs),
            "props": ["{}"] * len(recs),
        }
    )
    d = tempfile.mkdtemp(prefix="ev_nullpath_")
    df.to_parquet(
        os.path.join(d, "events.parquet"), index=False,
        coerce_timestamps="us",
    )

    rows = top_event_paths(spark, d).collect()
    got = [(r["path"], int(r["n"])) for r in rows]
    # user 1 windows: (a,∅,b)→NULL, (∅,b,c)→NULL, (b,c,d)→path;
    # incomplete tail windows are filtered by the last-step check
    assert sorted(got, key=str) == sorted(
        [("b > c > d", 2), (None, 2)], key=str
    ), got
    # the tie-break: equal n=2, and the NULL path group sorts AFTER
    # the string path (asc_nulls_last ↔ the oracle's NULLS LAST)
    assert got == [("b > c > d", 2), (None, 2)]


@settings(max_examples=60, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),
            st.integers(min_value=0, max_value=20),
        ).map(lambda t: (t[0], min(t[1], t[0]))),  # pos <= w
        min_size=1,
        max_size=12,
    )
)
def test_pav_blocks_match_minimax_characterization(pts):
    """PAV vs the textbook minimax characterization of isotonic
    regression: the fitted value at point i equals
    max_{k<=i} min_{j>=i} weighted-avg(y[k..j]) — a completely
    different construction from the merge loop (pure python, no
    Spark; exact Fractions, so the compare is equality, not
    tolerance). Also pins: strictly increasing block means, weight
    conservation, and positive-count conservation."""
    from fractions import Fraction

    from data_warehouse_co_healthy_spark.llm.text import pav_blocks

    points = [(i, w, pos) for i, (w, pos) in enumerate(pts)]
    blocks = pav_blocks(points)

    # fitted (exact rational) value per original point
    fitted = {}
    for x_lo, x_hi, w, pos in blocks:
        for i in range(x_lo, x_hi + 1):
            fitted[i] = Fraction(pos, w)

    def wavg(k, j):
        tw = sum(points[t][1] for t in range(k, j + 1))
        return Fraction(
            sum(points[t][2] for t in range(k, j + 1)), tw
        )

    n = len(points)
    for i in range(n):
        want = max(
            min(wavg(k, j) for j in range(i, n)) for k in range(i + 1)
        )
        assert fitted[i] == want, (i, points)

    means = [Fraction(b[3], b[2]) for b in blocks]
    assert all(a < b for a, b in zip(means, means[1:]))
    assert sum(b[2] for b in blocks) == sum(w for _, w, _ in points)
    assert sum(b[3] for b in blocks) == sum(p for _, _, p in points)


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_morton_interleave_bijective_and_box_monotone(data):
    """The div/mod Morton formula shared by zorder_layout_profile and
    its oracle must (a) be a bijection on the quantized grid
    (de-interleaving recovers the inputs), and (b) assign the z-range
    file from exactly the TOP interleaved coordinate bits — the
    property the zone-map span bound rests on. Pure python replay of
    the exact integer arithmetic (no Spark), fully derived from the
    module constants so retuning them revalidates rather than
    spuriously failing."""
    from data_warehouse_co_healthy_spark.operators.warehouse import (
        ZORDER_N_FILES,
        ZORDER_Q_BITS,
    )

    top = (1 << ZORDER_Q_BITS) - 1
    bx = data.draw(st.integers(0, top))
    by = data.draw(st.integers(0, top))
    z = sum(
        ((bx // (1 << i)) % 2) * (1 << (2 * i))
        + ((by // (1 << i)) % 2) * (1 << (2 * i + 1))
        for i in range(ZORDER_Q_BITS)
    )
    # (a) bijection: de-interleave the even/odd bits
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(ZORDER_Q_BITS))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(ZORDER_Q_BITS))
    assert (rx, ry) == (bx, by)
    # (b) file assignment == the top log2(n_files) interleaved bits
    # (power-of-two n_files makes (z*n)//zspace a pure bit shift)
    zspace = 1 << (2 * ZORDER_Q_BITS)
    log2n = ZORDER_N_FILES.bit_length() - 1
    assert 1 << log2n == ZORDER_N_FILES  # constant must stay a power of 2
    zfile = (z * ZORDER_N_FILES) // zspace
    assert 0 <= zfile < ZORDER_N_FILES
    want = 0
    for pos in range(2 * ZORDER_Q_BITS - 1,
                     2 * ZORDER_Q_BITS - 1 - log2n, -1):
        coord, bit = (by, pos // 2) if pos % 2 else (bx, pos // 2)
        want = want * 2 + ((coord >> bit) & 1)
    assert zfile == want
