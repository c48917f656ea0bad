"""Output checks: digests are order-independent, a corrupted result is
rejected and counted as a failed iteration, and the dictionary matcher
behind the entity-linking reference follows word-boundary,
leftmost-longest semantics."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from kgbench import inputs, reference
from kgbench.run import Runner


def _commit(table_dir, columns: dict):
    """A committed warehouse table: data dir plus manifest."""
    data = os.path.join(table_dir, "data-x")
    os.makedirs(data)
    pq.write_table(pa.table(columns), os.path.join(data, "part-0.parquet"))
    with open(os.path.join(table_dir, "_MANIFEST.json"), "w") as f:
        json.dump({"data_dir": data}, f)


def test_digest_is_order_independent_and_counts_duplicates():
    a = reference.digest([("x", 1), ("y", 2), ("x", 1)])
    assert a == reference.digest([("x", 1), ("x", 1), ("y", 2)])
    assert a != reference.digest([("x", 1), ("y", 2)])
    assert reference.crc_digest(["a", "b"]) == reference.crc_digest(["b", "a"])


def test_curation_checker_rejects_corrupted_keepers(tmp_path):
    _rows, clusters = inputs.corpus_docs(seed=5, n_base=40)
    expected = reference.curation_reference(clusters)
    keepers = sorted(min(c) for c in clusters)

    good = tmp_path / "good"
    _commit(str(good / "corpus"), {"doc_id": pa.array(keepers[::-1], pa.int64())})
    assert reference.curation_output(str(good)) == expected

    bad = tmp_path / "bad"
    corrupted = keepers[:-1] + [keepers[-1] + 1]   # one keeper replaced by another id
    _commit(str(bad / "corpus"), {"doc_id": pa.array(corrupted, pa.int64())})
    assert reference.curation_output(str(bad)) != expected


def test_kg_checker_rejects_a_corrupted_edge(tmp_path):
    edges = {"subj_qid": ["Q1", "Q2"], "pred": ["part_of", "influenced"],
             "obj_qid": ["Q2", "Q1"], "conv_id": ["c0", "c1"],
             "turn_idx": pa.array([1, 2], pa.int32())}
    nodes = {"qid": ["Q1", "Q2"], "bfo_label": ["Process", "Role"]}
    _commit(str(tmp_path / "good" / "edges"), edges)
    _commit(str(tmp_path / "good" / "nodes"), nodes)
    _commit(str(tmp_path / "bad" / "edges"), {**edges, "pred": ["part_of", "part_of"]})
    _commit(str(tmp_path / "bad" / "nodes"), nodes)
    good = reference.kg_output(str(tmp_path / "good"))
    assert good["edges"]["rows"] == 2
    assert reference.kg_output(str(tmp_path / "bad"))["edges"] != good["edges"]
    assert reference.kg_output(str(tmp_path / "bad"))["nodes"] == good["nodes"]


class _Stub:
    """A workload whose call returns a fixed output digest."""

    def __init__(self, outputs):
        self.outputs = list(outputs)
        self.expected = {"rows": 3, "crc32_sum": 42}

    def iterate(self, spark, out_dir, tr):
        return self.outputs.pop(0)

    def output(self, handle):
        if isinstance(handle, Exception):
            raise handle
        return handle


def test_runner_counts_corrupted_and_raising_iterations_as_failed(tmp_path):
    ok = {"rows": 3, "crc32_sum": 42}
    wl = _Stub([ok, {"rows": 3, "crc32_sum": 43}, RuntimeError("boom"), ok])
    runner = Runner(wl, str(tmp_path), deadline=float("inf"))
    recs = [runner.iteration(None, f"it{i}") for i in range(4)]
    assert [r["ok"] for r in recs] == [True, False, False, True]
    assert (runner.attempted, runner.failed) == (4, 2)
    assert all(r["wall_s"] >= 0 and r["cpu_s"] >= 0 for r in recs)


def test_dictionary_matcher_semantics():
    surfaces = {"sahara", "sahara desert", "ww2", "maria skłodowska-curie", "desert"}
    heads = {"sahara", "ww2", "maria", "desert"}
    text = "the sahara desert, ww2x ww2; maria skłodowska-curie and saharan desert"
    # longest match wins, word boundaries on both ends, no overlaps
    assert reference.match_surfaces(text, surfaces, heads, 3) == [
        "sahara desert", "ww2", "maria skłodowska-curie", "desert"]


def test_best_qid_prefers_prior_then_smallest_qid():
    rows = [("a", "Q2", "A", 0.8), ("a", "Q1", "A", 0.8), ("b", "Q9", "B", 1.0),
            ("b", "Q1", "B", 0.5)]
    assert reference.best_qid(rows) == {"a": "Q1", "b": "Q9"}


def test_inputs_are_a_function_of_the_seed():
    assert inputs.alias_dictionary(3) == inputs.alias_dictionary(3)
    assert inputs.alias_dictionary(3) != inputs.alias_dictionary(4)
    aliases = inputs.alias_dictionary(3)
    assert len({a for a, *_ in aliases}) == inputs.ALIAS_SURFACES
    assert inputs.corpus_docs(7, 30) == inputs.corpus_docs(7, 30)
