"""Inputs are a pure function of the seed."""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import gen

SMALL_ETL = gen.EtlSizes(initial_pos=200, new_pos=40, status_fetches=10, cdc_updates=12, cdc_deletes=2)
SMALL_CORPUS = gen.CorpusSizes(corpus_docs=60, corpus_vectors=40, batch_docs=30)


def etl_inputs(seed: int) -> list:
    stream = gen.PoStream(seed, SMALL_ETL)
    out = [stream.initial()]
    for i in range(1, 4):
        b = stream.next_batch(i)
        out.append((b.records, b.fetch_pos, b.changes.to_dict("list"), b.compact, b.rows_after_curate))
    out.append(dict(stream.expected))
    out.append([gen.status_lines(seed, po) for po in out[1][1]])
    return out


def corpus_inputs(seed: int) -> list:
    stream = gen.CorpusStream(seed, SMALL_CORPUS)
    out = [stream.corpus.docs.to_dict("list"), np.stack(stream.corpus.vectors["embedding"]).tolist()]
    for i in range(2):
        docs, vecs = stream.batch(i)
        out += [docs.to_dict("list"), np.stack(vecs["embedding"]).tolist()]
    return out


def test_etl_inputs_repeat_for_a_seed_and_differ_across_seeds():
    assert etl_inputs(7) == etl_inputs(7)
    assert etl_inputs(7) != etl_inputs(8)


def test_tpch_tables_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = (gen.tpch_tables(s, sf=0.002) for s in (7, 7, 8))
    assert a.keys() == b.keys() == c.keys()
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["orders"].equals(c["orders"])


def test_corpus_inputs_repeat_for_a_seed_and_differ_across_seeds():
    assert corpus_inputs(7) == corpus_inputs(7)
    assert corpus_inputs(7) != corpus_inputs(8)


def test_etl_expected_state_follows_the_cdc_batches():
    stream = gen.PoStream(3, SMALL_ETL)
    stream.initial()
    b = stream.next_batch(1)
    assert b.rows_after_curate == SMALL_ETL.initial_pos + SMALL_ETL.new_pos
    deleted = b.changes[b.changes.op == "D"].po_number
    assert not set(deleted) & stream.expected.keys()
    for po, st in b.changes[b.changes.op == "U"][["po_number", "status"]].itertuples(index=False):
        assert stream.expected[po] == st
    # later batches add optional fields: additive schema evolution
    later = [stream.next_batch(i) for i in range(2, 6)]
    assert any("carrier" in r for r in later[0].records)
    assert any("priority" in r for r in later[-1].records)
