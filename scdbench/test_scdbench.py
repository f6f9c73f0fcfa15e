"""The benchmark's own tests: ``python3 -m pytest scdbench`` from the root
of a checkout. The last test starts Spark twice and takes a few minutes."""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from model import SupplierModel, table_digest  # noqa: E402


def _loads(seed: int, tmp, n: int = 4) -> list[str]:
    feed = gen.SupplierFeed(seed, n_codes=2000, load_rows=100)
    return [gen.write_csv(feed.next_load(), str(tmp / f"s{seed}-{k}.csv"))
            for k in range(n)]


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    for x, y in zip(_loads(7, a), _loads(7, b)):
        assert filecmp.cmp(x, y, shallow=False)
    assert not filecmp.cmp(_loads(7, a)[1], _loads(8, b)[1], shallow=False)
    gen.write_corpus(7, str(a / "corpus"))
    gen.write_corpus(7, str(b / "corpus"))
    names = sorted(os.listdir(a / "corpus"))
    assert len(names) == 10
    _, mismatch, errors = filecmp.cmpfiles(a / "corpus", b / "corpus", names,
                                           shallow=False)
    assert not mismatch and not errors


def test_loads_follow_the_input_contract():
    feed = gen.SupplierFeed(3, n_codes=1000, load_rows=100)
    first = feed.next_load()
    live = {r[1]: r for r in first}
    for _ in range(5):
        load = feed.next_load()
        codes = [r[1] for r in load]
        assert len(codes) == len(set(codes)) == 100     # each key once per load
        new = [r for r in load if r[1] not in live]
        same = [r for r in load if live.get(r[1]) == r]
        changed = [r for r in load if r[1] in live and live[r[1]] != r]
        assert (len(changed), len(new), len(same)) == (50, 25, 25)
        assert all(live[r[1]][3] != r[3] for r in changed)
        live.update({r[1]: r for r in load})


# The reference's two loads (suppliers.csv, suppliers_v2.csv) and its
# golden outputs (SCD-Configuration Setup.sql:253-275).
LOAD1 = [(1, "A101", "Virat Kohli", "Delhi"), (2, "A102", "MS Dhoni", "Ranchi"),
         (3, "A103", "Pujara", "Gujarat"), (4, "A104", "Bumrah", "Mumbai"),
         (5, "A105", "Rohit Sharma", "Hyderabad"), (6, "A106", "Dravid", "Karnataka")]
LOAD2 = [(5, "A105", "Rohit Sharma", "Tamilnadu"), (6, "A106", "Dravid", "Tamilnadu"),
         (7, "A107", "Pujara", "Saurasthra"), (8, "A108", "Hanuma Vihari", "Andhra Pradesh")]


def test_model_reproduces_reference_two_load_golden():
    t1, t2 = dt.datetime(2024, 3, 26, 23, 41, 54), dt.datetime(2024, 3, 27, 0, 5, 43)
    m = SupplierModel()
    m.apply(LOAD1, t1)
    m.apply(LOAD2, t2)
    f = m.frames()
    staging, master = f["staging"], f["master"]
    assert len(staging) == 10
    assert (staging.current_flag == "Y").sum() == 8
    closed = staging[staging.current_flag == "N"]
    assert sorted(closed.supplier_state) == ["Hyderabad", "Karnataka"]
    assert (closed.end_date == t2).all()
    assert len(master) == 8 and len(f["landing"]) == 8
    # Re-sending load 2 changes nothing.
    m.apply(LOAD2, t2 + dt.timedelta(minutes=1))
    assert table_digest(m.frames()["staging"]) == table_digest(staging)


def test_digest_ignores_row_and_column_order():
    f = SupplierModel()
    f.apply(LOAD1, dt.datetime(2024, 1, 1))
    df = f.frames()["staging"]
    shuffled = df.sample(frac=1, random_state=0)[list(reversed(df.columns))]
    assert table_digest(shuffled) == table_digest(df)
    assert table_digest(df.iloc[1:]) != table_digest(df)


def _traced(seed: int, dest: str) -> list[dict]:
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "scd2_sparse",
         "--seed", str(seed), "--seconds", "5", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1])["correct"]
    shutil.copy(os.path.join(HERE, "_work", "traces", f"scd2_sparse-{seed}.json"), dest)
    with open(dest) as f:
        return [json.loads(line) for line in f]


def _per_cycle(spans: list[dict]) -> dict[int, list[tuple]]:
    """Counters of every call under each run_cycle, keyed by cycle."""
    keys = ("name", "jobs", "stages", "skipped_stages", "tasks")
    root_of, out = {}, {}
    for s in spans:
        if s["name"] == "run_cycle":
            root_of[s["id"]] = s["k"]
        elif s["parent"] in root_of:
            root_of[s["id"]] = root_of[s["parent"]]
        else:
            continue
        out.setdefault(root_of[s["id"]], []).append(tuple(s.get(k) for k in keys))
    return out


def test_traced_runs_repeat_job_counts_per_call(tmp_path):
    a = _per_cycle(_traced(5, str(tmp_path / "a.json")))
    b = _per_cycle(_traced(5, str(tmp_path / "b.json")))
    common = sorted(set(a) & set(b))
    assert len(common) >= 4          # the set-up cycles and a timed one
    for k in common:
        assert a[k] == b[k], f"cycle {k}"
    assert a[common[-1]][0][1] == 0 and sum(c[1] for c in a[common[-1]]) > 20
