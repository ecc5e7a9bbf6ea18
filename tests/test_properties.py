"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY.md §5: it has none): random-graph connected components
against a pure-Python union-find oracle, and Jaro-Winkler metric
invariants on arbitrary strings."""

from __future__ import annotations

import string
from functools import cache, partial

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pboh_spark.pairs import jaro_winkler

# ---------------------------------------------------------------------------
# Jaro-Winkler invariants (pure function — no Spark session needed)
# ---------------------------------------------------------------------------

_texts = st.text(alphabet=string.ascii_lowercase + " ", max_size=24)


@given(_texts, _texts)
def test_jw_symmetric_and_bounded(a, b):
    x = jaro_winkler(a, b)
    y = jaro_winkler(b, a)
    assert abs(x - y) < 1e-12
    assert 0.0 <= x <= 1.0


@given(_texts)
def test_jw_identity(a):
    assert jaro_winkler(a, a) == 1.0


# ---------------------------------------------------------------------------
# connected components vs union-find oracle
# ---------------------------------------------------------------------------

def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


_edges = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_edges)
def test_cc_matches_union_find(spark, edges):
    from pboh_spark.cluster import connected_components

    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges],
        "mention_id_a bigint, mention_id_b bigint",
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    want = _union_find_components(
        [(u, v) for u, v in edges if u != v]
    )
    # union-find canonicalizes to the min of each component, as does
    # hash-to-min; vertex sets differ only by self-loop-only vertices,
    # which connected_components drops (u != v filter)
    assert got == {x: r for x, r in want.items()}


# ---------------------------------------------------------------------------
# int-pair packing (F8) — symmetric + recoverable (pure numpy)
# ---------------------------------------------------------------------------

@given(st.integers(0, 2**31 - 1), st.integers(0, 2**31 - 1))
def test_pack_symmetric_and_recoverable(a, b):
    import numpy as np

    from pboh_spark.resolve import _pack

    p1 = int(_pack(np.array([a]), np.array([b]))[0])
    p2 = int(_pack(np.array([b]), np.array([a]))[0])
    assert p1 == p2  # unordered-pair key
    lo, hi = p1 >> 32, p1 & 0xFFFFFFFF
    assert (lo, hi) == (min(a, b), max(a, b))  # injective, recoverable


# ---------------------------------------------------------------------------
# the fits' round merge — any split of the prepared conversations into
# partitions totals to the same integers on the driver
# ---------------------------------------------------------------------------

@cache
def _prepared_fit_conversations():
    """Seeded small conversations (surfaces recur; some golds are no
    candidate, some mentions unlabelled) prepared by both fits:
    (weight-fit blobs, parameter-fit blobs, number of parameter ids)."""
    import pickle

    import numpy as np
    import pandas as pd

    from pboh_spark import learning, param_learning
    from pboh_spark.resolve import gold_rows

    rng = np.random.default_rng(11)
    names = ["ann", "bob", "cy", "dee", "eve"]
    cands = {
        s: np.sort(rng.choice(np.arange(1, 9), int(rng.integers(1, 4)), replace=False))
        for s in names
    }
    prior = {(s, int(e)): float(np.log(rng.uniform(0.1, 0.9)))
             for s, es in cands.items() for e in es}
    lam_all = pd.DataFrame(
        [(a, b) for a in range(1, 10) for b in range(a + 1, 10)], columns=["e1", "e2"]
    ).assign(
        lambda_potential=rng.normal(size=36), log_smoothed=rng.normal(size=36),
        lp_sum=rng.normal(size=36),
    )
    convs = []
    for c in range(7):
        rows = []
        for m in range(int(rng.integers(1 if c == 0 else 2, 6))):
            s = names[int(rng.integers(len(names)))]
            u = rng.random()
            gold = int(rng.choice(cands[s])) if u < 0.75 else (9 if u < 0.9 else -1)
            rows += [(10 * c + m, int(e), prior[(s, int(e))], 0.1 * (e % 5), s, gold)
                     for e in cands[s]]
        cand = pd.DataFrame(
            rows,
            columns=["mention_id", "entity", "rho", "log_pop", "ngram", "gold_entity"],
        )
        ents = set(cand["entity"]) | set(cand["gold_entity"])
        lam = lam_all[lam_all["e1"].isin(ents) & lam_all["e2"].isin(ents)]
        convs.append((cand, lam))
    gold_cand = pd.concat([gold_rows(cand) for cand, _ in convs])
    rho_t = gold_cand.groupby(["ngram", "entity"], as_index=False)["rho"].min()
    lam_t = lam_all.iloc[::2].reset_index(drop=True)
    prepares = (
        partial(learning._weight_prepare, lam_const=-3.0),
        param_learning._param_prepare(rho_t, lam_t, None, -3.0),
    )
    blobs = [
        [pickle.dumps(pre) for pre in (
            prepare(gold_rows(cand), cand, lam) for cand, lam in convs
        ) if pre is not None]
        for prepare in prepares
    ]
    theta = np.concatenate([rho_t["rho"] - 0.2, lam_t["lambda_potential"] + 0.3])
    return blobs, theta, len(rho_t)


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_round_merge_is_split_invariant(data):
    """For both fits' round functions, the shared round kernel's
    per-partition rows total on the driver (learning._merge) to the same
    integers for every split of the prepared conversations into
    partitions and batches — empty partitions and single conversations
    included — and an empty partition yields no row."""
    import pickle
    from dataclasses import replace

    import numpy as np
    import pandas as pd

    from pboh_spark import learning, param_learning
    from pboh_spark.stats import ScorerWeights

    q = learning._quantize
    (w_blobs, p_blobs), theta, n_rho = _prepared_fit_conversations()
    w = replace(ScorerWeights(), f=1.2, g=0.7, h=0.3)
    for blobs, conv_round, n_ids in (
        (w_blobs, partial(learning._pl_round, w=w), 4),
        (p_blobs, param_learning._param_round(w, theta, n_rho), len(theta)),
    ):
        assert len(blobs) >= 3
        kernel = learning._round_kernel(conv_round)
        picked = data.draw(st.lists(
            st.sampled_from(range(len(blobs))), min_size=1, max_size=len(blobs),
            unique=True,
        ))
        n_parts = data.draw(st.integers(1, 4))
        where = data.draw(st.lists(
            st.integers(0, n_parts - 1), min_size=len(picked), max_size=len(picked)
        ))
        cuts = data.draw(
            st.lists(st.booleans(), min_size=len(picked), max_size=len(picked))
        )
        rows = []
        for part in range(n_parts):
            mine = [(blobs[i], cut)
                    for i, p, cut in zip(picked, where, cuts) if p == part]
            batches, cur = [], []
            for blob, cut in mine:
                cur.append(blob)
                if cut:
                    batches.append(cur)
                    cur = []
            batches.append(cur)  # possibly an empty batch
            out = list(kernel(iter(pd.DataFrame({"blob": b}) for b in batches)))
            assert len(out) == (1 if mine else 0)
            rows += out
        assert list(kernel(iter([]))) == []
        loss, n, tot = learning._merge(pd.concat(rows, ignore_index=True), n_ids)
        # the oracle: every conversation's quantized values summed in one place
        want = np.zeros(n_ids, dtype=np.int64)
        want_loss = want_n = 0
        for i in picked:
            c_loss, c_ids, c_g, c_n = conv_round(pickle.loads(blobs[i]))
            want_loss += q(c_loss)
            want_n += int(c_n > 0)
            for k, v in zip(c_ids.tolist(), c_g.tolist()):
                want[k] += q(v)
        assert (loss, n) == (want_loss, want_n)
        assert (tot == want).all()
