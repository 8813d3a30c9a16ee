"""Tests of the benchmark's own pieces: generators, event-log parser,
output check, /proc sampler. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import eventlog
import gen
import oracles
import procfs
from workloads import KgDataeng

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def read_corpus(path: str) -> list[dict]:
    return sorted(pq.read_table(path).to_pylist(), key=lambda r: r["doc_id"])


def shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


@pytest.mark.parametrize("corpus", ["bow", "clinical"])
def test_generator_is_seeded_and_split_independent(tmp_path, corpus):
    one = gen.write_corpus(corpus, 7, 90, str(tmp_path / "one"), parts=1)
    three = gen.write_corpus(corpus, 7, 90, str(tmp_path / "three"), parts=3)
    other = gen.write_corpus(corpus, 8, 90, str(tmp_path / "other"), parts=3)
    assert len(os.listdir(three)) == 3
    rows = read_corpus(one)
    assert len(rows) == 90
    assert rows == read_corpus(three)
    assert rows != read_corpus(other)


def test_bow_plants_close_and_far_copies():
    texts = gen.bow_rows(3, 0, 2 * gen.BLOCK)["text"]
    vocab = set(gen.VOCAB)
    assert all(set(t.split(" ")) <= vocab for t in texts)
    for block in (0, gen.BLOCK):
        def jaccard(a: int, b: int) -> float:
            sa, sb = shingles(texts[block + a]), shingles(texts[block + b])
            return len(sa & sb) / len(sa | sb)
        assert jaccard(gen.CLOSE_BASE, gen.CLOSE_COPY) >= 0.85
        assert jaccard(gen.FAR_BASE, gen.FAR_COPY) < 0.7


def test_clinical_docs_interleave_media_and_hot_term():
    doc_id, spans = gen.clinical_doc(5, 12)
    assert doc_id == "note-00000012"
    text = [s for s in spans if s["kind"] == "text"]
    assert len(text) == 8 and len(spans) > len(text)
    offsets = [s["offset"] for s in text]
    assert offsets == sorted(offsets)
    notes = [" ".join(s["text"] for s in gen.clinical_doc(5, i)[1])
             for i in range(50)]
    assert sum("skin" in n for n in notes) > 25


def test_eventlog_parser_on_recorded_log():
    actions = eventlog.parse([os.path.join(DATA, "tiny_eventlog.json")])
    tiny = actions["tiny"]
    assert tiny.jobs == 2 and tiny.tasks == 3
    assert tiny.op_metric("MapInPandas", "number of output rows") == 100
    assert tiny.op_metric("MapInPandas", "data sent to Python workers") > 0
    assert tiny.op_metric("Exchange", "shuffle bytes written") \
        == tiny.shuffle_write_bytes > 0
    assert tiny.op_metric("HashAggregate", "number of output rows",
                          "functions=[count(1)]") == 3
    assert tiny.executor_cpu_s > 0
    assert tiny.task_skew() >= 1.0


@pytest.fixture
def dataeng(tmp_path, monkeypatch):
    """A kg_dataeng workload on a tiny corpus, its sink holding exactly
    the reference triples."""
    monkeypatch.setattr(KgDataeng, "n_docs", 60)
    monkeypatch.setattr(KgDataeng, "REF_SAMPLE", 20)
    run_dir = tmp_path / "run"
    (run_dir / "tmp").mkdir(parents=True)
    wl = KgDataeng(None, str(tmp_path), str(run_dir), seed=3)
    wl.make_input()
    wl.prepare()
    all_docs = oracles.kg_triples(wl.input, wl.tmp)

    def write_sink(rows):
        cols = list(zip(*sorted(rows)))
        os.makedirs(wl.sink, exist_ok=True)
        pq.write_table(pa.table(dict(zip(KgDataeng.COLS, cols))),
                       os.path.join(wl.sink, "part-0.parquet"))

    wl.write_sink = write_sink
    write_sink(all_docs)
    return wl


def test_dataeng_check_accepts_the_reference(dataeng):
    assert dataeng.check() is None


def test_dataeng_check_fails_on_one_dropped_triple(dataeng):
    doc_triple = min(t for t in dataeng.want if t[1] == "mentions_concept")
    rows = set(oracles.read_rows(dataeng.sink, KgDataeng.COLS))
    dataeng.write_sink(rows - {doc_triple})
    bad = dataeng.check()
    assert bad is not None and "1 missing" in bad


def test_dataeng_check_fails_on_a_duplicated_triple(dataeng):
    rows = oracles.read_rows(dataeng.sink, KgDataeng.COLS)
    dataeng.write_sink(rows + rows[:1])
    assert "duplicate" in dataeng.check()


def test_proc_tree_counts_this_process():
    assert os.getpid() in procfs.tree_pids()
    cpu0 = procfs.tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert procfs.tree_cpu_s() > cpu0
    with procfs.MemSampler(interval_s=0.01) as mem:
        block = b"x" * (64 << 20)
    assert mem.peak >= len(block)
