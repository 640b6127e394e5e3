"""Test helper: an index catalog's tables as id-free content.

Doc ids are mapped to urls through the docs table and term ids to terms
through term_dict, so an incrementally maintained catalog and a fresh
build of the same corpus (which assigns ids differently) compare equal
exactly when they hold the same index."""

from __future__ import annotations

from search_ingest_spark.index import build as ib
from search_ingest_spark.index.codec import decode_block, decode_impact_block


def _rows(cat, name, columns=None):
    return cat.arrow_dataset(name).to_table(columns=columns).to_pylist()


def _blocks(cat, name, term_of, url_of, dps: int, impact: bool) -> set:
    """Decoded postings as {(term, url, tf, dl)} (or {(term, url, q)}),
    after checking every block's metadata against its decoded content."""
    out = set()
    for r in _rows(cat, name):
        if impact:
            docs, qs = decode_impact_block(r["data"], r["first_doc_id"], r["n_docs"])
            assert r["max_impact"] == max(qs)
            rows = [(int(d), int(q)) for d, q in zip(docs, qs)]
        else:
            docs, tfs, dls = decode_block(r["data"], r["first_doc_id"], r["n_docs"])
            assert (r["max_tf"], r["sum_tf"], r["min_dl"]) == (
                max(tfs), sum(int(t) for t in tfs), min(dls))
            rows = [(int(d), int(t), int(dl)) for d, t, dl in zip(docs, tfs, dls)]
        assert r["first_doc_id"] == docs[0] and r["last_doc_id"] == docs[-1]
        term = term_of[r["term_id"]]
        for d, *rest in rows:
            assert d // dps == r["shard"], (name, d, r["shard"])
            out.add((term, url_of[d], *rest))
    return out


def _dps(cat) -> int:
    import json
    import os

    with open(os.path.join(cat.root, "build_state.json")) as fh:
        return int(json.load(fh)["docs_per_shard"])


def _sorted_live(cat, url_of) -> list:
    """The live rows of the index-sorted table across its delta
    segments: segment 0 (the base) and segment i keep a doc's row only
    where the owners table assigns the doc to them."""
    owners = {}
    if cat.exists(ib.SORTED_ATTRS_OWNERS):
        owners = {r["doc_id"]: r["seq"] for r in _rows(cat, ib.SORTED_ATTRS_OWNERS)}
    n_segs = int(_rows(cat, ib.SORTED_ATTRS_META)[0]["n_segs"] or 0)
    names = [ib.SORTED_ATTRS_TABLE] + [
        f"{ib.SORTED_ATTRS_SEG_PREFIX}{i}" for i in range(1, n_segs + 1)]
    live = []
    for seq, name in enumerate(names):
        for r in _rows(cat, name):
            if owners.get(r["doc_id"], 0) == seq:
                d = r.pop("doc_id")
                live.append((url_of[d], tuple(sorted(r.items()))))
    return sorted(live)


def catalog_content(cat) -> dict:
    """{table: content} for the docs table and every registered index
    table present in `cat` (the sorted-attrs family as one entry of its
    live rows)."""
    dps = _dps(cat)
    url_of = {r["doc_id"]: r["url"] for r in _rows(cat, "docs", ["doc_id", "url"])}
    term_of = {r["term_id"]: r["term"]
               for r in _rows(cat, ib.TERM_DICT_TABLE, ["term", "term_id"])}
    out = {"docs": sorted((r["url"], r["text"])
                          for r in _rows(cat, "docs", ["url", "text"]))}
    for name in cat.list_tables():
        if name == ib.TERM_DICT_TABLE:
            out[name] = sorted((r["term"], r["df"], r["cf"]) for r in _rows(cat, name))
        elif name in (ib.STATS_TABLE, ib.POSTINGS_Q_META):
            out[name] = _rows(cat, name)
        elif name == ib.POSTINGS_TABLE:
            out[name] = _blocks(cat, name, term_of, url_of, dps, impact=False)
        elif name == ib.POSTINGS_Q_TABLE:
            out[name] = _blocks(cat, name, term_of, url_of, dps, impact=True)
        elif name == ib.POSITIONS_TABLE:
            out[name] = sorted((r["term"], url_of[r["doc_id"]], tuple(r["positions"]))
                               for r in _rows(cat, name))
        elif name in (ib.DOC_LENS_TABLE, ib.DOC_STORE_TABLE, ib.DOC_ATTRS_TABLE):
            rows = _rows(cat, name)
            for r in rows:
                assert r.pop("shard") == r["doc_id"] // dps
            out[name] = sorted((url_of[r.pop("doc_id")], tuple(sorted(r.items())))
                               for r in rows)
        elif name == ib.SORTED_ATTRS_META:
            out[ib.SORTED_ATTRS_TABLE] = _sorted_live(cat, url_of)
        elif ib.table_rule(name) is not None and name not in (
                ib.SORTED_ATTRS_TABLE, ib.SORTED_ATTRS_OWNERS) and not name.startswith(
                    ib.SORTED_ATTRS_SEG_PREFIX):
            out[name] = sorted(str(r) for r in _rows(cat, name))
    return out


def assert_matches_fresh_build(cat, fresh, built_avgdl: float) -> None:
    """An incrementally maintained catalog holds what a fresh build of
    its final corpus holds, table by table: the registry's drop tables
    are gone, postings_q keeps the avgdl it was built with (its impacts
    are quantize_impacts of the fresh postings at that avgdl), and every
    other table is equal in content."""
    import numpy as np

    got, want = catalog_content(cat), catalog_content(fresh)
    assert set(got) == set(want) - {ib.BIGRAM_TABLE, ib.MANIFEST_TABLE}
    assert got[ib.POSTINGS_Q_META] == [{"avgdl": built_avgdl}]
    postings = sorted(want[ib.POSTINGS_TABLE])
    q = ib.quantize_impacts(np.array([tf for _, _, tf, _ in postings]),
                            np.array([dl for _, _, _, dl in postings]),
                            built_avgdl)
    assert got[ib.POSTINGS_Q_TABLE] == {
        (t, u, int(v)) for (t, u, _, _), v in zip(postings, q)}
    [g_st], [w_st] = got[ib.STATS_TABLE], want[ib.STATS_TABLE]
    for col in ("n_docs", "sum_dl", "avgdl", "analyzer"):
        assert g_st[col] == w_st[col], col
    for name in set(got) - {ib.POSTINGS_Q_META, ib.POSTINGS_Q_TABLE, ib.STATS_TABLE}:
        assert got[name] == want[name], name
