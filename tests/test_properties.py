"""Property-based tests (hypothesis) — spec parsing invariants and
the map.apply reference-grammar semantics. The reference has no
randomized testing at all (SURVEY §5); these harden the layers that
parse user input."""

from __future__ import annotations

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

from conveyor_spark.config.spec import parse_spec  # noqa: E402
from conveyor_spark.errors import ConfigError  # noqa: E402

IDENT = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)


@given(ids=st.lists(IDENT, min_size=1, max_size=8, unique=True), data=st.data())
@settings(max_examples=50, deadline=None)
def test_linear_pipelines_always_parse_and_topo_sort(ids, data):
    stages = []
    for i, sid in enumerate(ids):
        inputs = [ids[i - 1]] if i > 0 else []
        stages.append({"id": sid, "function": "filter.apply", "inputs": inputs})
    spec = parse_spec({"pipeline": {"name": "p"}, "stages": stages})
    order = spec.topo_order()
    assert order == ids  # linear chain must sort in chain order
    assert len(set(order)) == len(ids)


@given(ids=st.lists(IDENT, min_size=2, max_size=6, unique=True))
@settings(max_examples=30, deadline=None)
def test_any_cycle_is_rejected(ids):
    # ring: each stage depends on the previous, first depends on last
    stages = [
        {"id": sid, "function": "f", "inputs": [ids[i - 1]]}
        for i, sid in enumerate(ids)
    ]
    with pytest.raises(ConfigError, match="cycle"):
        parse_spec({"pipeline": {"name": "p"}, "stages": stages})


@given(
    var=IDENT,
    value=st.text(
        alphabet=st.characters(blacklist_characters="{}$", blacklist_categories=("Cs",)),
        max_size=30,
    ),
)
@settings(max_examples=50, deadline=None)
def test_interpolation_roundtrip(var, value):
    spec = parse_spec(
        {
            "pipeline": {"name": "p"},
            "global": {"variables": {var: value}},
            "stages": [
                {"id": "s", "function": "f", "config": {"p": f"pre {{{{ {var} }}}} post"}}
            ],
        }
    )
    assert spec.stages[0].config["p"] == f"pre {value} post"


@pytest.mark.usefixtures("spark")
class TestMapGrammar:
    """The reference's toy `col OP const` grammar coerces to double
    (map.rs:129-227) — property: Spark result equals Python float op."""

    @given(
        vals=st.lists(
            st.integers(min_value=-10**6, max_value=10**6), min_size=1, max_size=5
        ),
        const=st.integers(min_value=1, max_value=999),
        op=st.sampled_from(["+", "-", "*", "/"]),
    )
    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    def test_arith_matches_python(self, spark, ctx, vals, const, op):
        from tests.conftest import run_op

        df = spark.createDataFrame([(v,) for v in vals], "x BIGINT")
        out = run_op(ctx, "map.apply", [df], expression=f"x {op} {const}", output_column="y")
        got = {r["x"]: r["y"] for r in out.collect()}
        for v in vals:
            expect = {"+": v + const, "-": v - const, "*": v * const, "/": v / const}[op]
            assert got[v] == pytest.approx(float(expect))
            assert isinstance(got[v], float)  # reference Float64 coercion


class TestRound3OpProperties:
    """Randomized invariants for the selection/packing/bloom ops."""

    @given(
        rows=st.lists(
            st.tuples(st.integers(0, 10_000), st.integers(0, 4),
                      st.integers(-1000, 1000)),
            min_size=1, max_size=60, unique_by=lambda t: t[0]),
        k=st.integers(1, 5),
    )
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_topk_matches_bruteforce(self, spark, ctx, rows, k):
        from tests.conftest import run_op
        df = spark.createDataFrame(rows, ["id", "grp", "score"])
        out = run_op(ctx, "topk.apply", [df], by="grp", k=k, salt=3,
                     order_by=[{"column": "score", "direction": "desc"},
                               {"column": "id"}]).collect()
        got = sorted((r["grp"], r["id"]) for r in out)
        expect = []
        for g in {t[1] for t in rows}:
            grp = sorted((t for t in rows if t[1] == g),
                         key=lambda t: (-t[2], t[0]))[:k]
            expect += [(g, t[0]) for t in grp]
        assert got == sorted(expect)

    @given(
        rows=st.lists(
            st.tuples(st.integers(0, 100_000), st.integers(0, 300)),
            min_size=1, max_size=60, unique_by=lambda t: t[0]),
        budget=st.integers(50, 200),
    )
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_packing_budget_never_exceeded(self, spark, ctx, rows, budget):
        from tests.conftest import run_op
        df = spark.createDataFrame(rows, ["id", "tok"])
        out = run_op(ctx, "pack.sequences", [df], weight_column="tok",
                     budget=budget, id_column="id", shards=4).collect()
        assert len(out) == len(rows)  # own_pack keeps every row
        fills: dict[int, list[int]] = {}
        for r in out:
            fills.setdefault(r["pack_id"], []).append(r["tok"])
        for toks in fills.values():
            assert sum(toks) <= budget or len(toks) == 1  # oversize alone

    @given(
        bench_words=st.lists(st.from_regex(r"[a-z]{3,8}", fullmatch=True),
                             min_size=4, max_size=10, unique=True),
        noise=st.integers(0, 5),
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_bloom_never_false_negative(self, spark, ctx, bench_words, noise):
        """Any doc actually containing a benchmark n-gram MUST flag —
        bloom filters cannot have false negatives."""
        from tests.conftest import run_op
        phrase = " ".join(bench_words)
        docs = [(1, f"prefix {phrase} suffix")]
        for i in range(noise):
            docs.append((10 + i, f"noise doc {i} " + " ".join(
                w + str(i) for w in bench_words)))
        corpus = spark.createDataFrame(docs, ["doc_id", "text"])
        bench = spark.createDataFrame([(99, phrase)], ["bid", "text"])
        out = {r["doc_id"]: r["contaminated"] for r in run_op(
            ctx, "decontam.bloom", [corpus, bench], column="text",
            id_column="doc_id", ngram=3).collect()}
        assert out[1] is True

    @given(
        events=st.lists(
            st.tuples(st.integers(0, 3), st.sampled_from(["A", "B", "C", "X"]),
                      st.integers(0, 10_000)),
            min_size=1, max_size=40),
    )
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_funnel_matches_python_reference(self, spark, ctx, events):
        from datetime import datetime, timedelta
        from tests.conftest import run_op
        base = datetime(2024, 1, 1)
        rows = [(u, et, base + timedelta(seconds=s)) for u, et, s in events]
        df = spark.createDataFrame(rows, ["uid", "et", "ts"])
        out = {r["uid"]: r["steps_completed"] for r in run_op(
            ctx, "event.funnel", [df], steps=["A", "B", "C"], by="uid",
            type_column="et", ts_column="ts").collect()}
        # python reference: greedy first-touch over (ts, et)-sorted events
        expect: dict[int, int] = {}
        steps = ["A", "B", "C"]
        for u in {e[0] for e in events}:
            seq = sorted([(s, et) for uu, et, s in events if uu == u])
            done, tp = 0, None
            for s, et in seq:
                if done == 0 and et == steps[0]:
                    done, tp = 1, s
                elif 0 < done < 3 and et == steps[done] and s > tp:
                    done, tp = done + 1, s
            if done >= 1:
                expect[u] = done
        assert out == expect

    @given(
        docs=st.lists(
            st.tuples(st.integers(0, 10_000),
                      st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
                               min_size=3, max_size=8)),
            min_size=2, max_size=25, unique_by=lambda t: t[0]),
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_minhash_star_components_equal_all_pairs(self, spark, ctx, docs):
        """pairs='star' must produce IDENTICAL connected components to
        all-pairs mode on any input — star edges span every bucket."""
        from tests.conftest import run_op

        df = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in docs], ["doc_id", "text"]
        )
        cfg = dict(column="text", id_column="doc_id",
                   num_hashes=8, bands=4, shingle="token")

        def comps(pairs_df):
            out = run_op(ctx, "dedup.components", [pairs_df])
            comp: dict = {}
            for r in out.collect():
                comp.setdefault(r["component"], set()).add(r["id"])
            return {frozenset(s) for s in comp.values()}

        allp = run_op(ctx, "dedup.minhash", [df], **cfg)
        star = run_op(ctx, "dedup.minhash", [df], **cfg, pairs="star")
        assert comps(star) == comps(allp)


class TestSlidingWindowProperties:
    """Randomized invariants for real sliding count windows."""

    @given(
        n_rows=st.integers(min_value=1, max_value=60),
        size=st.integers(min_value=1, max_value=12),
        slide=st.integers(min_value=1, max_value=12),
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_sliding_membership_matches_definition(self, spark, ctx, n_rows, size, slide):
        """Row i belongs to window w iff w*slide <= i < w*slide+size —
        for ANY size/slide combination, including gaps (slide > size)."""
        from tests.conftest import run_op

        df = spark.createDataFrame([(i,) for i in range(n_rows)], "seq INT")
        out = run_op(ctx, "window.apply", [df], type="sliding",
                     size=size, slide=slide, order_by="seq")
        got = {(r["seq"], r["window_id"]) for r in out.collect()}
        expected = {
            (i, w)
            for i in range(n_rows)
            for w in range((n_rows // slide) + 1)
            if w * slide <= i < w * slide + size
        }
        assert got == expected


class TestSqlStringExprParity:
    """The simhash and minhash expressions are built as SQL strings for
    driver-speed (one parse call instead of thousands of py4j
    round-trips); the hyperplane signature is one Arrow UDF. These
    tests pin each to an independent Python reference implementation
    so a builder or kernel regression cannot silently change
    fingerprints."""

    @given(
        vecs=st.lists(
            st.none() | st.lists(
                st.floats(-10, 10, width=32)
                | st.sampled_from([float("nan"), float("inf"),
                                   float("-inf"), -0.0, None]),
                min_size=7, max_size=9,
            ),
            min_size=1, max_size=8,
        ),
        bits=st.sampled_from([4, 9, 16]),
    )
    @settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
    def test_hyperplane_signature_matches_python(self, spark, ctx, vecs, bits):
        import math

        import numpy as np

        from conveyor_spark.datapipe.emb_lsh import sign_matrix
        from tests.conftest import run_op

        dim = 8
        planes = sign_matrix(bits, dim)

        def py_sig(v):
            # Spark's rules: a NULL vector, a wrong length or a NULL
            # element gives NULL; a NaN dot sets its bit (NaN orders
            # above every number)
            if v is None or len(v) != dim or None in v:
                return None
            acc = 0
            for j in range(bits):
                dot = 0.0
                for x, s in zip(v, planes[j]):
                    # float32 storage then float64 math, like Spark
                    dot += float(np.float32(x)) * s
                if dot > 0 or math.isnan(dot):
                    acc += 2**j
            return acc

        df = spark.createDataFrame(
            list(enumerate(vecs)), "id INT, embedding ARRAY<FLOAT>")
        got = {
            r["id"]: r["sig"]
            for r in run_op(ctx, "embedding.lsh", [df], output_column="sig",
                            bits=bits, dim=dim).collect()
        }
        for i, v in enumerate(vecs):
            assert got[i] == py_sig(v)

    @given(
        docs=st.lists(
            st.lists(
                st.text(alphabet="abcdef", min_size=1, max_size=6),
                min_size=1, max_size=12,
            ),
            min_size=1, max_size=6,
        ),
        bits=st.sampled_from([4, 16, 32, 64]),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_simhash_matches_python(self, spark, ctx, docs, bits):
        import hashlib

        from tests.conftest import run_op

        def md5int60(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def py_simhash(tokens):
            # tokens_expr lowercases and dedupes (array_distinct)
            hs = [md5int60(t) for t in dict.fromkeys(tokens)]
            acc = 0
            for j in range(bits):
                ones = sum((h >> j) & 1 for h in hs)
                if ones * 2 > len(hs):
                    acc += 2**j
            return acc

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "id INT, text STRING",
        )
        out = run_op(ctx, "dedup.simhash", [df], column="text", bits=bits,
                     shingle="token")
        got = {r["id"]: r["simhash"] for r in out.collect()}
        for i, toks in enumerate(docs):
            assert got[i] == py_simhash(toks)


class TestBucketReferenceParity:
    """The per-bucket Arrow/BLAS vector ops must be indistinguishable
    from the unbucketed pure-JVM ops run on each bucket's slice, on
    arbitrary inputs — including duplicate ids, singleton buckets and
    cosine ties."""

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 12),                      # id (dups allowed)
                st.integers(0, 2),                       # bucket
                st.lists(st.integers(-3, 3), min_size=4, max_size=4),
            ),
            min_size=2, max_size=25,
        ),
        threshold=st.sampled_from([-0.5, 0.0, 0.5]),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_dedup_embedding_parity(self, spark, ctx, rows, threshold):
        from tests.conftest import dedup_embedding_reference, run_op

        # zero vectors have no cosine — skip
        rows = [(i, b, [float(x) for x in v]) for i, b, v in rows
                if any(v)]
        if len(rows) < 2:
            return
        df = spark.createDataFrame(
            rows, "vec_id INT, label INT, embedding ARRAY<FLOAT>"
        )
        kw = dict(id_column="vec_id", bucket_column="label",
                  threshold=threshold, column="embedding")
        as_set = lambda d: sorted(
            (r["id_a"], r["id_b"], r["cosine"]) for r in d.collect()
        )
        assert as_set(run_op(ctx, "dedup.embedding", [df], **kw)) == \
            as_set(dedup_embedding_reference(ctx, df, **kw))

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 20),
                st.integers(0, 2),
                st.lists(st.integers(-3, 3), min_size=4, max_size=4),
            ),
            min_size=2, max_size=25,
            unique_by=lambda t: t[0],  # knn ids must be unique
        ),
        k=st.integers(1, 4),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_knn_ivf_parity(self, spark, ctx, rows, k):
        from tests.conftest import knn_ivf_reference, run_op

        rows = [(i, b, [float(x) for x in v]) for i, b, v in rows if any(v)]
        if len(rows) < 2:
            return
        df = spark.createDataFrame(
            rows, "vec_id INT, label INT, embedding ARRAY<FLOAT>"
        )
        qids = [r[0] for r in rows[: max(1, len(rows) // 2)]]
        kw = dict(id_column="vec_id", bucket_column="label", k=k,
                  query_ids=qids, column="embedding")
        as_set = lambda d: sorted(tuple(r) for r in d.collect())
        assert as_set(run_op(ctx, "knn.ivf", [df], **kw)) == \
            as_set(knn_ivf_reference(ctx, df, **kw))


class TestRound6OpProperties:
    """Randomized Python-reference checks for the analytics/CDC ops
    the earlier property classes didn't reach: exact n-gram jaccard,
    sessionization, upsert-merge, and snapshot diff."""

    @given(
        docs=st.lists(
            st.lists(st.text(alphabet="abcd", min_size=1, max_size=3),
                     min_size=1, max_size=10),
            min_size=2, max_size=8,
        ),
        threshold=st.sampled_from([0.1, 0.3, 0.5]),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_jaccard_exact_matches_bruteforce(self, spark, ctx, docs, threshold):
        from tests.conftest import run_op

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "id INT, text STRING",
        )
        out = run_op(ctx, "dedup.ngram_jaccard", [df], column="text",
                     id_column="id", shingle="token", exact=True,
                     threshold=threshold)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        sets = [set(t.lower() for t in toks) for toks in docs]
        expect = {}
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                inter = len(sets[a] & sets[b])
                if inter == 0:
                    continue  # posting-list join never surfaces disjoint pairs
                jac = inter / (len(sets[a]) + len(sets[b]) - inter)
                if jac >= threshold:
                    expect[(a, b)] = jac
        assert set(got) == set(expect)
        for pair, jac in expect.items():
            assert got[pair] == pytest.approx(jac)

    @given(
        events=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 60)),  # (user, t_sec)
            min_size=1, max_size=40,
        ),
        gap=st.integers(1, 10),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_sessionize_matches_python(self, spark, ctx, events, gap):
        from pyspark.sql import functions as F

        from tests.conftest import run_op

        df = (
            spark.createDataFrame(events, "user INT, t BIGINT")
            .withColumn("ts", F.timestamp_seconds("t"))
        )
        out = run_op(ctx, "sessionize.assign", [df], by="user",
                     gap_seconds=float(gap))
        got = sorted((r["user"], r["t"], r["session_id"]) for r in out.collect())
        # python reference: per-user time-sorted scan; tied timestamps
        # share a session (delta 0 <= gap)
        sid_of: dict[tuple[int, int], int] = {}
        for u in {e[0] for e in events}:
            ts = sorted({t for v, t in events if v == u})
            idx = 0
            for j, t in enumerate(ts):
                if j > 0 and t - ts[j - 1] > gap:
                    idx += 1
                sid_of[(u, t)] = idx
        expect = sorted((u, t, sid_of[(u, t)]) for u, t in events)
        assert got == expect

    @given(
        snapshot=st.dictionaries(st.integers(0, 20), st.integers(0, 99),
                                 max_size=15),
        changes=st.lists(
            st.tuples(st.integers(0, 20), st.integers(0, 99), st.booleans()),
            max_size=15,
        ),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_upsert_last_wins_matches_python(self, spark, ctx, snapshot, changes):
        from tests.conftest import run_op

        snap_df = spark.createDataFrame(
            [(k, v) for k, v in snapshot.items()] or [(None, None)],
            "id INT, val INT",
        )
        if not snapshot:
            snap_df = snap_df.filter("id IS NOT NULL")
        # unique (id, ord): ord = position, so last occurrence wins
        chg_rows = [(k, v, d, i) for i, (k, v, d) in enumerate(changes)]
        chg_df = spark.createDataFrame(
            chg_rows or [(None, None, None, None)],
            "id INT, val INT, del BOOLEAN, ord INT",
        )
        if not changes:
            chg_df = chg_df.filter("id IS NOT NULL")
        out = run_op(ctx, "table.upsert", [snap_df, chg_df], key="id",
                     delete_column="del", on_duplicate="last_wins",
                     order_column="ord")
        got = sorted((r["id"], r["val"]) for r in out.collect())
        state = dict(snapshot)
        last: dict[int, tuple[int, bool]] = {}
        for k, v, d in changes:
            last[k] = (v, d)
        for k, (v, d) in last.items():
            if d:
                state.pop(k, None)
            else:
                state[k] = v
        assert got == sorted(state.items())

    @given(
        before=st.dictionaries(st.integers(0, 15),
                               st.tuples(st.integers(0, 3), st.integers(0, 3)),
                               max_size=12),
        after=st.dictionaries(st.integers(0, 15),
                              st.tuples(st.integers(0, 3), st.integers(0, 3)),
                              max_size=12),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_diff_matches_python(self, spark, ctx, before, after):
        from tests.conftest import run_op

        def mkdf(d):
            df = spark.createDataFrame(
                [(k, x, y) for k, (x, y) in d.items()] or [(None, None, None)],
                "id INT, x INT, y INT",
            )
            return df.filter("id IS NOT NULL") if not d else df

        out = run_op(ctx, "diff.apply", [mkdf(before), mkdf(after)],
                     key="id", include_unchanged=True)
        got = {r["id"]: (r["diff_status"], tuple(r["changed_columns"]))
               for r in out.collect()}
        expect = {}
        for k in set(before) | set(after):
            if k not in before:
                expect[k] = ("added", ())
            elif k not in after:
                expect[k] = ("removed", ())
            else:
                cols = tuple(
                    c for c, i in (("x", 0), ("y", 1))
                    if before[k][i] != after[k][i]
                )
                expect[k] = ("changed", cols) if cols else ("unchanged", ())
        assert got == expect


@given(
    h=st.integers(1, 10), w=st.integers(1, 10),
    ch=st.sampled_from([1, 2, 3, 4]),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(h, w, ch, data):
    """encode(filters f_0..f_h) |> decode == identity for every
    image shape, channel count, and per-row filter choice — the
    decoder inverts an INDEPENDENT encoder implementation of the
    spec (tests/test_codecs.py's), not its own."""
    import numpy as np

    from conveyor_spark.datapipe.codecs import png_meta, png_pixels
    from tests.test_codecs import make_png

    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    px = np.array(
        data.draw(st.lists(
            st.lists(st.lists(st.integers(0, 255), min_size=ch, max_size=ch),
                     min_size=w, max_size=w),
            min_size=h, max_size=h,
        )),
        dtype=np.uint8,
    )
    enc = make_png(px, color, filters=filters)
    meta = png_meta(enc)
    assert (meta["width"], meta["height"], meta["channels"]) == (w, h, ch)
    assert np.array_equal(png_pixels(enc), px)


@given(
    frames=st.integers(0, 1000), rate=st.sampled_from([8000, 16000, 44100]),
    nch=st.integers(1, 4), seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_wav_roundtrip_property(frames, rate, nch, seed):
    import numpy as np

    from conveyor_spark.datapipe.codecs import wav_encode, wav_samples

    s = np.random.RandomState(seed).randint(
        -32768, 32768, size=(frames, nch)
    ).astype(np.int16)
    meta, out = wav_samples(wav_encode(s, rate))
    assert (meta["sample_rate"], meta["channels"], meta["n_frames"]) \
        == (rate, nch, frames)
    assert np.array_equal(out, s.astype(np.int32))


@given(
    prefix=st.sampled_from([
        b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF89a",
        b"RIFF", b"RIFF1234WAVE",
    ]),
    tail=st.binary(max_size=200),
)
@settings(max_examples=300, deadline=None)
def test_codecs_never_leak_raw_exceptions(prefix, tail):
    """Corrupt-corpus contract: any byte string either decodes or
    raises MediaDecodeError — struct.error/IndexError never escape a
    decoder into a scan over crawled data."""
    from conveyor_spark.datapipe import codecs as C

    data = prefix + tail
    for fn in (C.png_meta, C.png_pixels, C.jpeg_meta, C.gif_meta,
               C.gif_frames, C.wav_meta, C.wav_samples):
        try:
            fn(data)
        except C.MediaDecodeError:
            pass
