"""Property-based invariants (hypothesis) for the pure kernels — the grid
index, haversine, and the zh conversion.  These run driver-side (numpy /
plain Python, DuckDB for the zh SQL text), no Spark session needed."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from immich_geodata_zh_tw_spark.functions import zh
from immich_geodata_zh_tw_spark.geo import grid
from immich_geodata_zh_tw_spark.geo.distance import haversine_np

lats = st.floats(min_value=-89.99, max_value=89.99, allow_nan=False)
lons = st.floats(min_value=-179.99, max_value=179.99, allow_nan=False)
res_st = st.integers(min_value=1, max_value=20)


class TestGridProperties:
    @given(lats, lons, res_st)
    @settings(max_examples=200, deadline=None)
    def test_point_within_its_cell_bounds(self, lat, lon, res):
        cell = grid.cell_of(lat, lon, res)
        lat_min, lat_max, lon_min, lon_max = grid.cell_bounds(cell)
        assert lat_min - 1e-9 <= lat <= lat_max + 1e-9
        assert lon_min - 1e-9 <= lon <= lon_max + 1e-9

    @given(lats, lons, res_st)
    @settings(max_examples=200, deadline=None)
    def test_center_round_trips_to_same_cell(self, lat, lon, res):
        cell = grid.cell_of(lat, lon, res)
        clat, clon = grid.cell_center(cell)
        assert grid.cell_of(float(clat), float(clon), res) == cell

    @given(lats, lons, res_st, st.integers(min_value=1, max_value=3))
    @settings(max_examples=100, deadline=None)
    def test_kring_contains_self_and_is_unique(self, lat, lon, res, k):
        from hypothesis import assume

        # uniqueness needs the ring narrower than the longitude ring size —
        # at degenerate coarse resolutions (2k+1 > 2^(res+1) columns) the
        # wrap legitimately revisits columns (harmless duplicates for kNN:
        # the same candidate appears twice in a min)
        assume(2 * k + 1 <= (2 << res))
        cell = grid.cell_of(lat, lon, res)
        ring = grid.k_ring(np.array([cell]), k)[0]
        valid = ring[ring >= 0]
        assert cell in valid
        assert len(set(valid.tolist())) == len(valid)

    @given(lats, lons, st.integers(min_value=2, max_value=20))
    @settings(max_examples=100, deadline=None)
    def test_parent_contains_child(self, lat, lon, res):
        child = grid.cell_of(lat, lon, res)
        parent = grid.cell_to_parent(child, res - 1)
        assert grid.cell_of(lat, lon, res - 1) == parent


class TestHaversineProperties:
    @given(lats, lons, lats, lons)
    @settings(max_examples=200, deadline=None)
    def test_symmetry_and_bounds(self, a, b, c, d):
        ab = float(haversine_np(a, b, c, d))
        ba = float(haversine_np(c, d, a, b))
        assert math.isclose(ab, ba, rel_tol=1e-12, abs_tol=1e-9)
        assert 0.0 <= ab <= math.pi * 6371.0088 + 1e-6  # ≤ half circumference

    @given(lats, lons)
    @settings(max_examples=100, deadline=None)
    def test_identity(self, lat, lon):
        assert float(haversine_np(lat, lon, lat, lon)) == 0.0


_han_chars = st.sampled_from(list(zh.SIMPLIFIED + zh.TRADITIONAL + "皇后頭干面里x "))
_texts = st.text(alphabet=_han_chars, max_size=24)


class TestZhProperties:
    def _s2t(self, text: str) -> str:
        """Driver-side evaluation of the exact SQL semantics."""
        out = text.translate(str.maketrans(zh.SIMPLIFIED, zh.TRADITIONAL))
        for src, dst in zh.S2T_WORD_FIXUPS:
            out = out.replace(src, dst)
        return out

    @given(_texts)
    @settings(max_examples=300, deadline=None)
    def test_s2t_idempotent(self, text):
        once = self._s2t(text)
        assert self._s2t(once) == once

    @given(_texts)
    @settings(max_examples=300, deadline=None)
    def test_s2t_preserves_length_for_char_stage(self, text):
        # every fixup pair is length-preserving, so s2t never changes length
        assert len(self._s2t(text)) == len(text)

    @given(_texts)
    @settings(max_examples=300, deadline=None)
    def test_t2s_idempotent(self, text):
        # after one t2s pass no reverse-fixup source (a traditional word)
        # and no mapped traditional char remains — second pass is identity
        once = zh._py_t2s(text)
        assert zh._py_t2s(once) == once

    @given(_texts)
    @settings(max_examples=300, deadline=None)
    def test_s2t_t2s_s2t_stability(self, text):
        # converting a traditionalized string back and forth must land on
        # the same traditional form (no oscillating char/word pairs)
        once = zh._py_s2t(text)
        assert zh._py_s2t(zh._py_t2s(once)) == once


#: words that fire the fixup stages both ways (sources for s2t, targets for
#: t2s), so drawn strings hit word pairs, overlaps and chained fixups that
#: single characters almost never spell
_fixup_words = sorted({w for pair in zh.S2T_WORD_FIXUPS for w in pair})
_zh_tokens = st.sampled_from(
    list(zh.SIMPLIFIED + zh.TRADITIONAL + "x -") + _fixup_words)
_zh_texts = st.lists(_zh_tokens, max_size=12).map("".join)


class TestZhSqlParity:
    """The Arrow kernels' functions (``_py_s2t``/``_py_t2s``) equal DuckDB
    running the oracles' ``s2t_sql``/``t2s_sql`` text — the kernel's
    reference, on inputs far beyond the oracle queries' 12 fixed words.
    One DuckDB query per drawn batch."""

    @staticmethod
    def _check(texts: list[str]) -> None:
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        con.register("t", pd.DataFrame({"i": range(len(texts)), "s": texts}))
        got = con.execute(f"SELECT {zh.s2t_sql('s')}, {zh.t2s_sql('s')} "
                          "FROM t ORDER BY i").fetchall()
        want = [(zh._py_s2t(s), zh._py_t2s(s)) for s in texts]
        bad = [(s, g, w) for s, g, w in zip(texts, got, want) if g != w]
        assert not bad, bad[:5]

    def test_every_char_and_fixup_word(self):
        # each table entry alone: a dropped, reordered or mistyped entry on
        # either side shows here even when no drawn string spells it
        self._check(list(zh.SIMPLIFIED + zh.TRADITIONAL) + _fixup_words)

    @given(st.lists(_zh_texts, min_size=1, max_size=40))
    @settings(max_examples=60, deadline=None)
    def test_py_conversions_equal_duckdb_sql(self, texts):
        self._check(texts)


class TestAmbiguousCharAudit:
    """Round-3 VERDICT "Next round" #7: data-driven zh-fidelity tripwire.

    Mines every zh-producing driver query at sf0.01 and asserts no
    known-ambiguous simplified char (the 干/面/里/复… classes the character
    stage deliberately leaves unmapped) appears in an engine-produced name
    outside a word-fixup target — i.e. zero UNFIXED ambiguous chars.  The
    audited exceptions below are each a correct bare-char context, not a
    missed conversion.
    """

    #: (query → chars allowed bare) — audited contexts:
    #: * country_localize: proper-name/transliteration chars inside the
    #:   250-entry zh-TW country dim (吉布地, 斯里蘭卡, 蒙古 — dimension
    #:   literals, not conversion outputs);
    #: * release_pipeline: the reference's FIRST-occurrence-only 裏→里
    #:   Taiwan rule (reference translate.py:311-320; fix_li_names
    #:   reproduces the Polars str.replace semantics) emits bare 里;
    #: * korea_split_strip: 里 is the Korean admin-unit suffix (리), part
    #:   of the fabricated input shape, never a conversion output.
    ALLOWED = {
        "country_localize": set("布里蒙"),
        "release_pipeline": {"里"},
        "korea_split_strip": {"里"},
    }

    ZH_QUERIES = ["zh_s2t", "admin1_translate", "korea_sejong",
                  "country_localize", "release_pipeline",
                  "extract_chinese_names", "metadata_coord_join",
                  "japan_admin2", "korea_split_strip"]

    def test_no_unfixed_ambiguous_chars_in_engine_names(self, spark):
        from immich_geodata_zh_tw_spark.plans import driver_queries as dq

        qs = dq.queries()
        bad = []
        for qname in self.ZH_QUERIES:
            allowed = self.ALLOWED.get(qname, set())
            pdf = qs[qname](spark, "/root/testdata/sf0.01").toPandas()
            for col in pdf.columns:
                if pdf[col].dtype != object:
                    continue
                for v in pdf[col].dropna().unique():
                    if not isinstance(v, str):
                        continue
                    for _, ch in zh.ambiguous_unfixed_occurrences(v):
                        if ch not in allowed:
                            bad.append((qname, col, v, ch))
        assert not bad, f"unfixed ambiguous chars in engine output: {bad[:20]}"

    def test_audit_helper_flags_known_bad_forms(self):
        """The helper itself must catch the documented mistranslation
        classes — a word the dictionary covers is clean, the same char
        outside any covered word is flagged."""
        assert zh.ambiguous_unfixed_occurrences("麵條") == []
        assert zh.ambiguous_unfixed_occurrences("乾燥") == []
        # unfixed: ambiguous char left bare outside any fixup target
        assert zh.ambiguous_unfixed_occurrences("面條") == [(0, "面")]
        assert zh.ambiguous_unfixed_occurrences("這里") == [(1, "里")]
        assert zh.ambiguous_unfixed_occurrences("干燥") == [(0, "干")]
        # covered context: bare char inside a fixup TARGET is legitimate
        assert zh.ambiguous_unfixed_occurrences("打里摺") == [(1, "里")]


class TestTwCorpusFidelity:
    """Round-4 data-driven dictionary growth (round-3 VERDICT "What's
    missing" #1): every official Taiwan admin name in the reference's
    public corpus must survive a t2s→s2t round trip exactly, EXCEPT the
    documented collision losers — distinct official villages whose
    simplified forms coincide, where a flat dictionary must pick the
    majority form (see functions/zh_twnames.py + tools/mine_tw_fixups.py).
    """

    CORPUS = "/root/reference/meta_data/tw_geodata.csv"
    #: collision losers: official names rendered as their majority sibling
    COLLISION_LOSERS = {
        "双溪村", "双溪里", "古庄里", "台西村", "后庄里",
        "大莊里", "新莊村", "新莊里", "港后里", "西庄村",
    }

    def _names(self):
        import csv
        import os

        import pytest as _pytest
        if not os.path.exists(self.CORPUS):
            _pytest.skip("reference corpus not available")
        names = set()
        with open(self.CORPUS, encoding="utf-8") as f:
            for row in csv.DictReader(f):
                for k in ("country", "admin_1", "admin_2",
                          "admin_3", "admin_4"):
                    v = (row.get(k) or "").strip()
                    if v:
                        names.add(v)
        return names

    def test_tw_corpus_round_trip(self):
        from immich_geodata_zh_tw_spark.functions import zh

        names = self._names()
        assert len(names) > 5000  # corpus sanity
        bad = {n for n in names if zh._py_s2t(zh._py_t2s(n)) != n}
        assert bad == self.COLLISION_LOSERS & names, (
            f"unexpected corpus mistranslations: "
            f"{sorted(bad - self.COLLISION_LOSERS)[:20]}")

    def test_collision_losers_render_as_majority_sibling(self):
        # the loser's output must itself be an official corpus name
        # (the majority sibling), never an invented form
        from immich_geodata_zh_tw_spark.functions import zh

        names = self._names()
        for loser in self.COLLISION_LOSERS & names:
            out = zh._py_s2t(zh._py_t2s(loser))
            assert out in names, (loser, out)

    def test_kr_corpus_round_trip_clean(self):
        import csv
        import os

        path = "/root/reference/meta_data/kr_geodata.csv"
        if not os.path.exists(path):
            import pytest as _pytest
            _pytest.skip("reference corpus not available")
        from immich_geodata_zh_tw_spark.functions import zh

        names = set()
        with open(path, encoding="utf-8") as f:
            for row in csv.DictReader(f):
                for v in row.values():
                    v = (v or "").strip()
                    if v and any("一" <= c <= "鿿" for c in v):
                        names.add(v)
        assert names and all(
            zh._py_s2t(zh._py_t2s(n)) == n for n in names)


class TestThaiCorpusConversion:
    """The reference's TH corpus (meta_data/TH.csv) is the one shipped file
    whose Chinese is SIMPLIFIED (LocationIQ output the reference feeds
    through s2twp, core/translate.py:17-19) — i.e. real s2t INPUT.  Every
    Han name must convert to an s2t fixpoint, and every remaining
    ambiguous char must be inside an audited transliteration stem
    (zh.AMBIGUOUS_KEEP_STEMS) — in BOTH directions: no unaudited char, and
    no stale stem the corpus no longer needs."""

    CORPUS = "/root/reference/meta_data/TH.csv"

    def _names(self):
        import csv
        import os

        import pytest as _pytest
        if not os.path.exists(self.CORPUS):
            _pytest.skip("reference corpus not available")
        names = set()
        with open(self.CORPUS, encoding="utf-8") as f:
            for row in csv.DictReader(f):
                for k in ("country", "admin_1", "admin_2",
                          "admin_3", "admin_4"):
                    v = (row.get(k) or "").strip()
                    if v and any("一" <= c <= "鿿" for c in v):
                        names.add(v)
        return names

    def test_th_names_convert_to_audited_fixpoints(self):
        from immich_geodata_zh_tw_spark.functions import zh

        names = self._names()
        assert len(names) > 100
        out = {zh._py_s2t(n) for n in names}
        assert all(zh._py_s2t(t) == t for t in out)  # fixpoint
        bad = {t for t in out if zh.ambiguous_unfixed_occurrences(t)}
        assert not bad, f"unaudited ambiguous chars: {sorted(bad)[:10]}"
        # the simplified country name really converts
        assert zh._py_s2t("泰国") == "泰國"

    def test_keep_stems_all_needed(self):
        """Every keep-stem occurs in some converted TH name AND removing it
        would re-flag that name (no dead audit entries)."""
        from immich_geodata_zh_tw_spark.functions import zh

        out = {zh._py_s2t(n) for n in self._names()}
        for stem in zh.AMBIGUOUS_KEEP_STEMS:
            hosts = [t for t in out if stem in t]
            assert hosts, f"stem {stem} matches no TH name"
            assert any(
                any(hit[1] in stem for hit in _flags_without(t, stem))
                for t in hosts), f"stem {stem} audits nothing"


class TestKoreaCorpusConversion:
    """The reference's KR corpus (meta_data/kr_geodata.csv, 3.5 k rows of
    Hanja-derived admin names — 世宗市/全東面/大平洞…) is TRADITIONAL
    input: the reference pipes it through the same s2twp conversion
    (core/translate.py:17-19), so every name must be an s2t FIXPOINT
    (conversion must not corrupt an already-traditional Hanja name — e.g. a
    TW full-name fixup or word fold firing inside a KR name) and must
    survive the t2s→s2t round trip (no one-to-many simplification hazard
    maps a KR char to a different traditional variant).

    A round-5 mining pass (the tools/mine_tw_fixups.py rule applied to
    this corpus) yielded ZERO fixups — all 249 distinct Han names already
    hold both properties; this test locks that in against future
    char-table / word-fold / fixup additions."""

    CORPUS = "/root/reference/meta_data/kr_geodata.csv"

    def _names(self):
        import csv
        import os

        import pytest as _pytest
        if not os.path.exists(self.CORPUS):
            _pytest.skip("reference corpus not available")
        names = set()
        with open(self.CORPUS, encoding="utf-8") as f:
            for row in csv.DictReader(f):
                for k in ("country", "admin_1", "admin_2",
                          "admin_3", "admin_4"):
                    v = (row.get(k) or "").strip()
                    if v and any("一" <= c <= "鿿" for c in v):
                        names.add(v)
        return names

    def test_kr_names_are_s2t_fixpoints(self):
        from immich_geodata_zh_tw_spark.functions import zh

        names = self._names()
        assert len(names) > 200
        moved = sorted(n for n in names if zh._py_s2t(n) != n)
        assert not moved, f"s2t corrupts KR Hanja names: {moved[:10]}"

    def test_kr_names_survive_roundtrip(self):
        from immich_geodata_zh_tw_spark.functions import zh

        bad = sorted(n for n in self._names()
                     if zh._py_s2t(zh._py_t2s(n)) != n)
        assert not bad, f"t2s→s2t round trip moves: {bad[:10]}"
        # the corpus's own country label converts from its simplified form
        assert zh._py_s2t("南韩") == "南韓"


def _flags_without(name, stem):
    """ambiguous_unfixed_occurrences with one stem removed from the audit."""
    from immich_geodata_zh_tw_spark.functions import zh

    kept = zh.AMBIGUOUS_KEEP_STEMS
    try:
        zh.AMBIGUOUS_KEEP_STEMS = frozenset(kept - {stem})
        return zh.ambiguous_unfixed_occurrences(name)
    finally:
        zh.AMBIGUOUS_KEEP_STEMS = kept


class TestSaltedTopKProperties:
    """Salted two-phase exactness under RANDOM inputs: for any data, cap,
    and salt count, `domain_cap` must equal the single-window reference
    verdict and `global_topk_ranked` must equal the sorted head — the
    soundness claim ('local rank > cap ⇒ global rank > cap') holds for
    every salt assignment, not just the fixed unit-test corpus."""

    @given(st.data())
    @settings(max_examples=8, deadline=None)
    def test_domain_cap_matches_reference(self, spark, data):
        import numpy as np
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators.sample import domain_cap
        from pyspark.sql import functions as F

        n = data.draw(st.integers(min_value=1, max_value=120))
        n_hosts = data.draw(st.integers(min_value=1, max_value=6))
        cap = data.draw(st.integers(min_value=1, max_value=5))
        n_salts = data.draw(st.integers(min_value=1, max_value=8))
        scores = data.draw(st.lists(
            st.integers(min_value=0, max_value=4),  # heavy ties on purpose
            min_size=n, max_size=n))
        pdf = pd.DataFrame({
            "host": [f"h{i % n_hosts}" for i in range(n)],
            "doc_id": range(n), "score": scores})
        got = (domain_cap(
            spark.createDataFrame(pdf), "host", "doc_id", cap=cap,
            order_cols=[F.col("score").desc(), F.col("doc_id").asc()],
            n_salts=n_salts)
            .toPandas().sort_values("doc_id").reset_index(drop=True))
        ref = pdf.sort_values(["host", "score", "doc_id"],
                              ascending=[True, False, True]).copy()
        ref["rk_all"] = ref.groupby("host").cumcount() + 1
        ref["kept"] = ref["rk_all"] <= cap
        ref["rk"] = np.where(ref["kept"], ref["rk_all"], np.nan)
        ref = ref.sort_values("doc_id").reset_index(drop=True)
        assert got["kept"].tolist() == ref["kept"].tolist()
        assert (got["rk"].astype("float64").fillna(-1).tolist()
                == ref["rk"].astype("float64").fillna(-1).tolist())

    @given(st.data())
    @settings(max_examples=8, deadline=None)
    def test_global_topk_matches_sorted_head(self, spark, data):
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators.sample import (
            global_topk_ranked)
        from pyspark.sql import functions as F

        n = data.draw(st.integers(min_value=1, max_value=150))
        k = data.draw(st.integers(min_value=1, max_value=12))
        n_salts = data.draw(st.integers(min_value=1, max_value=16))
        freqs = data.draw(st.lists(
            st.integers(min_value=0, max_value=6),
            min_size=n, max_size=n))
        pdf = pd.DataFrame({"tok": [f"t{i:04d}" for i in range(n)],
                            "freq": freqs})
        got = (global_topk_ranked(
            spark.createDataFrame(pdf), "tok", k=k,
            order_cols=[F.col("freq").desc(), F.col("tok").asc()],
            n_salts=n_salts).orderBy("__rk").toPandas())
        want = (pdf.sort_values(["freq", "tok"], ascending=[False, True])
                .head(k).reset_index(drop=True))
        assert got["tok"].tolist() == want["tok"].tolist()
        assert got["__rk"].tolist() == list(range(1, len(want) + 1))


class TestCountryPairCorpus:
    """The reference ships BOTH scripts of the country dimension
    (i18n-iso-countries langs/zh.json simplified, zh-tw.json traditional) —
    a ground-truth aligned pair corpus for the s2t stage.  Most deltas are
    Taiwan NAMING conventions (象牙海岸 vs 科特迪瓦), not script, so exact
    equality can't be the invariant; instead pin (a) the audited
    exact-match floor, (b) conversion fixpoints for every name, (c) the
    round-4 char pairs this corpus surfaced (萨奥兹纽脱挝 were passing
    through unconverted)."""

    CN = "/root/reference/i18n-iso-countries/langs/zh.json"
    TW = "/root/reference/i18n-iso-countries/langs/zh-tw.json"

    def _pairs(self):
        import json
        import os

        import pytest as _pytest
        if not (os.path.exists(self.CN) and os.path.exists(self.TW)):
            _pytest.skip("reference corpus not available")
        first = lambda v: v[0] if isinstance(v, list) else v  # noqa: E731
        cn = json.load(open(self.CN))["countries"]
        tw = json.load(open(self.TW))["countries"]
        return {c: (first(cn[c]), first(tw[c])) for c in tw if c in cn}

    def test_script_conversion_floor_and_fixpoints(self):
        from immich_geodata_zh_tw_spark.functions import zh

        pairs = self._pairs()
        assert len(pairs) == 250
        exact = sum(1 for s, t in pairs.values() if zh._py_s2t(s) == t)
        # 129 audited script-exact codes; the other 121 differ by NAMING
        # (the country dim ships those zh-tw names directly).  A regression
        # in the char/word tables drops this number.
        assert exact >= 129, exact
        assert all(zh._py_s2t(zh._py_s2t(s)) == zh._py_s2t(s)
                   for s, _ in pairs.values())

    def test_round4_mined_chars(self):
        from immich_geodata_zh_tw_spark.functions import zh

        for s, t in [("萨", "薩"), ("奥", "奧"), ("兹", "茲"),
                     ("纽", "紐"), ("脱", "脫"), ("挝", "撾")]:
            assert zh._py_s2t(s) == t and zh._py_t2s(t) == s
        # the names that exposed them now convert script-correctly
        assert zh._py_s2t("美属萨摩亚") == "美屬薩摩亞"
        assert zh._py_s2t("奥地利") == "奧地利"
        assert zh._py_s2t("纽埃") == "紐埃"


class TestSubstrDedupProperty:
    """Randomized equivalence of dedup.substr_dedup against an independent
    in-memory reference over 40 seeded corpora of tiny-vocab texts (the
    adversarial regime: heavy gram repetition, runs at doc edges, nested
    overlaps).  All corpora ride ONE Spark job: every token is prefixed
    with its corpus id, so grams can never match across corpora and one
    global run is exactly the per-corpus runs."""

    N = 3  # gram width — small enough that random 3-token-vocab texts repeat

    @staticmethod
    def _reference(docs: dict[int, list[str]], n: int):
        from collections import Counter

        grams: Counter = Counter()
        for ws in docs.values():
            for p in range(len(ws) - n + 1):
                grams[tuple(ws[p:p + n])] += 1
        out = {}
        for i, ws in docs.items():
            ivs: list[list[int]] = []
            for p in range(len(ws) - n + 1):
                if grams[tuple(ws[p:p + n])] > 1:
                    s, e = p + 1, p + n
                    if ivs and s <= ivs[-1][1] + 1:
                        ivs[-1][1] = max(ivs[-1][1], e)
                    else:
                        ivs.append([s, e])
            covered = {q for s, e in ivs for q in range(s, e + 1)}
            clean = " ".join(w for j, w in enumerate(ws, 1)
                             if j not in covered)
            out[i] = (clean, len(ivs), sum(e - s + 1 for s, e in ivs))
        return out

    def test_matches_reference_on_random_corpora(self, spark):
        import numpy as np

        from immich_geodata_zh_tw_spark.operators import dedup

        rng = np.random.default_rng(20260820)
        docs: dict[int, list[str]] = {}
        expected = {}
        doc_id = 0
        for corpus in range(40):
            vocab = [f"c{corpus}_{w}" for w in ("a", "b", "c")]
            corpus_docs = {}
            for _ in range(int(rng.integers(1, 7))):
                length = int(rng.integers(0, 13))
                corpus_docs[doc_id] = [
                    vocab[int(rng.integers(0, 3))] for _ in range(length)]
                doc_id += 1
            expected.update(self._reference(corpus_docs, self.N))
            docs.update(corpus_docs)
        df = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in docs.items()],
            "doc_id long, text string")
        out = (dedup.substr_dedup(df, id_col="doc_id", text_col="text",
                                  gram_words=self.N)
               .toPandas().set_index("doc_id").sort_index())
        assert len(out) == len(expected)
        for i, (clean, n_iv, n_rm) in expected.items():
            row = out.loc[i]
            assert row["clean_text"] == clean, (i, row["clean_text"], clean)
            assert row["n_dup_intervals"] == n_iv, (i, dict(row), n_iv)
            assert row["n_removed_tokens"] == n_rm, (i, dict(row), n_rm)


class TestCharFracsProperty:
    """Randomized equivalence of textstats.gopher_char_fracs against an
    independent in-memory reference over seeded tiny-vocab corpora (heavy
    within-doc repetition).  The reference computes coverage via a SET of
    covered positions — a different algorithm than the kernel's interval
    scan — and unrounded ratios compared at sub-rounding tolerance (the
    exact-round parity vs the engines' shared SQL round is pinned by the
    doc_repetition oracle row)."""

    TOP_NS = (2, 3)
    DUP_NS = (2, 3, 4)

    @staticmethod
    def _reference(ws: list[str], top_ns, dup_ns):
        from collections import Counter

        total = sum(len(w) for w in ws)
        out: dict[str, float | None] = {}
        for n in top_ns:
            if len(ws) < n or total == 0:
                out[f"top{n}gram_char_frac"] = None
                continue
            cnt = Counter(tuple(ws[i:i + n])
                          for i in range(len(ws) - n + 1))
            m = max(cnt.values())
            g = min(k for k, v in cnt.items() if v == m)
            out[f"top{n}gram_char_frac"] = m * sum(len(w) for w in g) / total
        for n in dup_ns:
            if total == 0:
                out[f"dup{n}gram_char_frac"] = None
                continue
            cov: set[int] = set()
            if len(ws) >= n:
                cnt = Counter(tuple(ws[i:i + n])
                              for i in range(len(ws) - n + 1))
                for i in range(len(ws) - n + 1):
                    if cnt[tuple(ws[i:i + n])] > 1:
                        cov.update(range(i, i + n))
            out[f"dup{n}gram_char_frac"] = (
                sum(len(ws[p]) for p in cov) / total)
        return out

    def test_matches_reference_over_seeded_corpora(self, spark):
        import random

        import pandas as pd
        import pytest

        from immich_geodata_zh_tw_spark.operators import textstats

        rows, expected = [], {}
        for seed in range(30):
            rng = random.Random(seed)
            vocab = ["aa", "b", "ccc"][: rng.randint(1, 3)]
            ws = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
            rows.append((seed, " ".join(ws)))
            expected[seed] = self._reference(
                ws if ws else [""], self.TOP_NS, self.DUP_NS)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = (textstats.gopher_char_fracs(
                   docs, top_ns=self.TOP_NS, dup_ns=self.DUP_NS)
               .toPandas().set_index("doc_id"))
        assert len(got) == 30
        for seed, exp in expected.items():
            for col, val in exp.items():
                g = got.loc[seed, col]
                if val is None:
                    assert pd.isna(g), (seed, col, g)
                else:
                    assert g == pytest.approx(val, abs=5.1e-7), \
                        (seed, col, g, val)
