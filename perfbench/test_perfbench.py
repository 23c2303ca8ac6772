"""Self-tests of the benchmark: python3 -m pytest perfbench -q"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, proctree  # noqa: E402
from perfbench.sparkrest import _node_metrics, parse_value, spark_bytes  # noqa: E402
from perfbench.spans import Tracer, check_tree, self_times  # noqa: E402


# ------------------------------------------------------------ generators

def _digest(d) -> dict:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("make", [gen.medicines, gen.documents, gen.customer])
def test_same_seed_same_bytes_other_seed_other_content(make, tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    make(7, str(a))
    make(7, str(b))
    make(8, str(c))
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert da.keys() == dc.keys() and all(da[f] != dc[f] for f in da)


def test_medicines_properties(tmp_path):
    truth = gen.medicines(3, str(tmp_path))
    p = gen.MEDICINES
    listing = pq.read_table(tmp_path / "listing.parquet").to_pylist()
    details = pq.read_table(tmp_path / "details.parquet").to_pylist()
    assert len(details) == p["cards"]
    assert len(listing) == -(-p["cards"] // p["cards_per_page"])
    approved = p["status_mix"]["Anbefalet"] + p["status_mix"]["Delvist anbefalet"]
    assert abs(len(truth) / p["cards"] - approved) < 0.05
    names = [r[:2] for r in truth]
    assert len(set(names)) < 0.9 * len(names)  # duplicate drug names
    assert sum(1 for r in truth if re.fullmatch(r"\d{4}-\d\d-\d\d", r[3])) > 0
    assert sum(1 for r in truth if re.fullmatch(r"\d{1,2}\.\d{1,2}\.\d{4}", r[3])) > 0
    assert sum(1 for r in truth if r[2] == "") > 0
    assert all(r[4] for r in truth)


def test_documents_properties(tmp_path):
    planted = gen.documents(3, str(tmp_path))
    rows = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    assert len(rows) == gen.DOCUMENTS["docs"]
    assert {r["source"] for r in rows} == {f"src{i}" for i in range(20)}
    assert all(r["n_chars"] == len(r["text"]) for r in rows)
    n = len(rows)
    assert planted["near_dup"] > 0.5 * gen.DOCUMENTS["near_dup_share"] * n
    assert planted["contaminated"] > 0 and planted["gibberish"] > 0


def test_customer_properties(tmp_path):
    planted = gen.customer(3, str(tmp_path))
    rows = pq.read_table(tmp_path / "customer.parquet").to_pylist()
    assert len(rows) == gen.CUSTOMER["rows"]
    assert all(r["c_name"][-1].isdigit() for r in rows)
    counts: dict = {}
    for r in rows:
        counts[r["c_name"]] = counts.get(r["c_name"], 0) + 1
    assert max(counts.values()) >= 5  # hot keys
    assert abs(planted["hot_rows"] / len(rows) - gen.CUSTOMER["hot_row_share"]) < 0.05


# ------------------------------------------------------- process tree

def _fake_stat(root, pid, ppid, comm, ticks, rss):
    d = root / str(pid)
    d.mkdir()
    u, s, cu, cs = ticks
    fields = ["S", ppid] + [0] * 9 + [u, s, cu, cs] + [0] * 6 + [rss] + [0] * 20
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, fields)) + "\n")


def test_tree_walk_on_fake_proc(tmp_path):
    _fake_stat(tmp_path, 10, 1, "python3", (100, 10, 5, 5), 1000)
    _fake_stat(tmp_path, 11, 10, "java) (x", (200, 20, 0, 0), 5000)  # hostile comm
    _fake_stat(tmp_path, 12, 11, "python3 -m daemon", (30, 3, 7, 0), 300)
    _fake_stat(tmp_path, 13, 1, "unrelated", (999, 0, 0, 0), 9)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    t = proctree.tree(10, str(tmp_path))
    assert t == {10: (120, 1000), 11: (220, 5000), 12: (40, 300)}
    assert proctree.tree(99, str(tmp_path)) == {}


def test_steal_reads_the_machine_cpu_line(tmp_path):
    (tmp_path / "stat").write_text("cpu  100 5 20 800 10 0 5 60 0 0\ncpu0 1 2 3\n")
    assert proctree.steal(str(tmp_path)) == (60, 1000)
    steal, total = proctree.steal()
    assert 0 <= steal <= total


def test_tree_counts_live_and_reaped_children():
    spin = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass\n"
    code = ("import subprocess,sys,time\n"
            f"g=subprocess.Popen([sys.executable,'-c',{spin!r}+'time.sleep(30)'])\n"
            f"exec({spin!r})\nprint(g.pid,flush=True)\ntime.sleep(30)\n")
    before = proctree.cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        grandchild = int(child.stdout.readline())
        deadline = time.time() + 20
        while proctree.cpu_s(os.getpid()) - before < 0.6 and time.time() < deadline:
            time.sleep(0.05)
        live = proctree.tree(os.getpid())
        assert child.pid in live and grandchild in live
        assert proctree.cpu_s(os.getpid()) - before >= 0.6
        assert proctree.rss_mb(os.getpid()) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
        os.kill(grandchild, 9)
    # the child is reaped by us: its own CPU now sits in our cutime
    assert child.pid not in proctree.tree(os.getpid())
    assert proctree.cpu_s(os.getpid()) - before >= 0.3


# -------------------------------------------------------------- spans

def test_span_tree_well_formed():
    tr = Tracer()
    import types

    mod = types.SimpleNamespace(leaf=lambda x: time.sleep(0.01) or x,
                                mid=None)
    mod.mid = lambda x: mod.leaf(x) + mod.leaf(x)
    tr.wrap(mod, "leaf", "leaf")
    tr.wrap(mod, "mid", "mid")
    for job in ("j1", "j2"):
        tr.job = job
        with tr.span("job"):
            assert mod.mid(2) == 4
    tr.unwrap()
    assert mod.leaf(1) == 1 and len(tr.spans) == 8
    assert check_tree(tr.spans) == []
    st = self_times(tr.spans)
    assert all(v >= 0 for v in st.values())
    for root in (s for s in tr.spans if s["parent"] is None):
        tree = [s for s in tr.spans if s["job"] == root["job"]]
        total = sum(st[s["id"]] for s in tree)
        assert total == pytest.approx(root["end"] - root["start"])
    assert {s["name"] for s in tr.spans if s["parent"] is not None} == {"mid", "leaf"}


def test_span_tree_violations_detected():
    spans = [
        {"id": 0, "name": "a", "job": "j", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 1, "name": "b", "job": "j", "parent": 0, "start": 0.5, "end": 1.5},
        {"id": 2, "name": "c", "job": "j", "parent": 0, "start": 0.2, "end": 0.7},
        {"id": 3, "name": "d", "job": "j", "parent": 0, "start": 0.9, "end": None},
    ]
    bad = check_tree(spans)
    assert any("outside parent" in b for b in bad)
    assert any("overlap" in b for b in bad)
    assert any("not closed" in b for b in bad)
    assert any("self time" in b for b in bad)


# --------------------------------------------------- REST metric parser

@pytest.mark.parametrize("text,value", [
    ("total (min, med, max (stageId: taskId))\n7.7 s (1.2 s, 1.9 s, 2.5 s (stage 3.0: task 12))", 7.7),
    ("total (min, med, max (stageId: taskId))\n203 ms (28 ms, 59 ms, 62 ms (stage 30.0: task 51))", 0.203),
    ("total (min, med, max (stageId: taskId))\n1.5 m (0.2 m, 0.4 m, 0.5 m (stage 1.0: task 2))", 90.0),
    ("2.0 min", 120.0),
    ("1.25 h", 4500.0),
    ("819 ms", 0.819),
    ("0 ms", 0.0),
    ("total (min, med, max (stageId: taskId))\n335.9 KiB (82.4 KiB, 85.2 KiB, 85.3 KiB (stage 30.0: task 50))", 335.9 * 1024),
    ("16.1 MiB", 16.1 * 2**20),
    ("2.5 GiB", 2.5 * 2**30),
    ("0.0 B", 0.0),
    ("2,000", 2000.0),
    ("1,234,567", 1234567.0),
])
def test_parse_value(text, value):
    assert parse_value(text) == pytest.approx(value)


def test_parse_value_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_value("3 parsecs")


def test_spark_bytes_matches_spark_rendering():
    assert spark_bytes(66355) == "64.8 KiB"
    assert spark_bytes(1000) == "1000.0 B"
    assert spark_bytes(16 * 2**20 + 100 * 1024) == "16.1 MiB"


def test_node_rollup_counts_pages_fed_to_python_passes():
    def node(i, name, **metrics):
        return {"nodeId": i, "nodeName": name,
                "metrics": [{"name": k.replace("_", " "), "value": v} for k, v in metrics.items()]}

    scan = {"number_of_files_read": "1", "size_of_files_read": spark_bytes(5000),
            "scan_time": "total (min, med, max (stageId: taskId))\n1.0 s (x)"}
    execution = {"nodes": [
        node(0, "Scan parquet", number_of_output_rows="250", **scan),
        node(1, "ColumnarToRow", number_of_output_rows="250"),
        node(2, "MapInPandas", time_to_run_Python_workers="2.0 s",
             data_sent_to_Python_workers="1.0 MiB", number_of_output_rows="2,000"),
        node(3, "Scan parquet", number_of_output_rows="0", **scan),  # cached, not run
        node(4, "MapInPandas", time_to_run_Python_workers="0 ms"),
        node(5, "Exchange", shuffle_records_written="2,000"),
        node(6, "BroadcastExchange", data_size="16.0 MiB", time_to_collect="500 ms"),
    ], "edges": [{"fromId": 0, "toId": 1}, {"fromId": 1, "toId": 2},
                 {"fromId": 3, "toId": 4}, {"fromId": 2, "toId": 5}]}
    m = _node_metrics([execution, execution], {"listing": 5000})
    assert m["ops.html.pages_parsed"] == 500
    assert m["io.input_scans"] == 2
    assert m["io.scan_s"] == pytest.approx(4.0)
    assert m["spark.python.run_s"] == pytest.approx(4.0)
    assert m["spark.python.sent_bytes"] == 2 * 2**20
    assert m["spark.exchange.count"] == 2
    assert m["spark.broadcast.bytes"] == 32 * 2**20
    assert m["spark.broadcast.collect_s"] == pytest.approx(1.0)


def test_explode_join_counts_candidates_and_deduplicated_pairs():
    names = ["Generate", "Filter", "Exchange", "ShuffledHashJoin", "Project",
             "HashAggregate", "Exchange", "AQEShuffleRead", "HashAggregate", "Project"]
    rows = ["120,000", "120,000", None, "20,000", None, "17,000", None, None, "3,000", None]
    nodes = [{"nodeId": i, "nodeName": n,
              "metrics": [] if r is None else [{"name": "number of output rows", "value": r}]}
             for i, (n, r) in enumerate(zip(names, rows))]
    # a second explode feeding the same join is counted once at the join
    nodes.append({"nodeId": 10, "nodeName": "Generate",
                  "metrics": [{"name": "number of output rows", "value": "130,000"}]})
    # an explode that feeds no join is not candidate generation
    nodes.append({"nodeId": 11, "nodeName": "Generate",
                  "metrics": [{"name": "number of output rows", "value": "16,000"}]})
    nodes.append({"nodeId": 12, "nodeName": "HashAggregate", "metrics": []})
    edges = [{"fromId": i, "toId": i + 1} for i in range(len(names) - 1)]
    edges += [{"fromId": 10, "toId": 3}, {"fromId": 11, "toId": 12}]
    m = _node_metrics([{"nodes": nodes, "edges": edges}], {})
    assert m["linkage.variant_rows"] == 250000
    assert m["linkage.candidate_pairs"] == 20000
    assert m["linkage.pairs_verified"] == 3000


@pytest.mark.parametrize("n,value,pct", [(1, 0.0, 100.0), (10, 9.0, 100.0),
                                         (11, 0.0, 100 / 11), (20, 9.0, 50.0)])
def test_tail_has_ten_samples_beyond_it(n, value, pct):
    from perfbench.run import tail

    assert tail([float(i) for i in range(n)]) == (value, pytest.approx(pct))


def test_peak_rss_skips_processes_seen_once():
    mb = 2**20 // proctree.PAGE
    p = proctree.PeakRss(root=1)
    p._seen = {1}
    p.add({1: (0, 100 * mb), 2: (0, 100 * mb)})  # 2 just spawned, sharing 1's memory
    assert p.peak_mb == 100
    p.add({1: (0, 100 * mb), 3: (0, 5 * mb)})    # 2 gone (exec'd), 3 new
    assert p.peak_mb == 100
    p.add({1: (0, 100 * mb), 3: (0, 5 * mb)})
    assert p.peak_mb == 105


def test_peak_rss_samples_a_live_tree():
    with proctree.PeakRss(os.getpid(), period_s=0.01) as p:
        time.sleep(0.1)
    assert p.peak_mb > 0
    assert 0 < p.own_cpu_s < 0.1  # the sampler's CPU, for the caller to take out


def test_traced_and_untraced_jobs_alternate_in_whole_pairs(monkeypatch):
    from perfbench import run

    clock = [0.0]
    monkeypatch.setattr(run.time, "time", lambda: clock[0])

    def job(tracer):
        clock[0] += 1.0
        return {"job_s": 1.0, "traced": tracer is not None}

    r = run.Run.__new__(run.Run)
    r.job = job
    assert [j["traced"] for j in r.jobs_for(3.5)] == [False] * 3
    clock[0] = 0.0
    assert [j["traced"] for j in r.jobs_for(0.5)] == [False] * 2
    clock[0] = 0.0
    traced = [j["traced"] for j in r.jobs_for(0.5, tracer=object())]
    assert traced == [False, True, True, False]  # one whole cycle at least
    clock[0] = 0.0
    traced = [j["traced"] for j in r.jobs_for(5.5, tracer=object())]
    assert traced == [False, True, True, False, False, True]
