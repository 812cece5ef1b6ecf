"""Seeded staging inputs for the `ingest` workload, and the `rpt` tables the
pipeline must end with, derived here without Spark.

The staged files have the reference's shape: per batch one `dags.json`,
`dagRuns{n}.json` pages of 10,000 rows and `taskInstances{n}.json` pages of
1,000 rows, each a whole-file JSON array. Those page sizes are the
reference's; the volumes and the mix of dropped rows below are invented, as
no source gives the traffic of a real deployment. Every dag has one to three
tasks, and every run that started has one task instance per task of its
dag, run one after another, so the task-instance volume follows from the
runs rather than from a constant of its own.

Batch k covers a later time window than batch k-1, and every batch after
the first also carries rows the pipeline must drop:

* the previous batch's last page again (overlapping extracts): the
  watermark drops them;
* late runs, and their task instances, that started before the previous
  batch's newest row: the watermark drops them;
* re-extracted runs, already loaded, now starting inside the new window:
  they pass the watermark and the primary-key dedup drops them;
* dag records seen before, some with an edited description: the dedup
  keeps the first version.

Inside one batch, every copy of a primary key is identical, so which copy
the loader keeps does not change the result.
"""
import datetime
import json
import os
import random

DAG_RUN_PAGE = 10_000
TASK_PAGE = 1_000
BATCHES = 3
NEW_RUNS_PER_BATCH = 10_200
MAX_TASKS_PER_DAG = 3
LATE_RUNS = 150
REEXTRACTED_RUNS = 400
WINDOW_S = 7 * 86_400
BASE_EPOCH_S = 1_700_000_000

STATES = ["success", "failed", "running", "queued"]
OPERATORS = ["PythonOperator", "BashOperator", "PostgresOperator", "SQLExecuteQueryOperator"]


def iso(epoch_s):
    if epoch_s is None:
        return None
    t = datetime.datetime.fromtimestamp(epoch_s, tz=datetime.timezone.utc)
    return t.isoformat()


def _dag(rng, i):
    return {
        "dag_id": f"dag_{i:04d}",
        "is_paused": rng.random() < 0.1,
        "is_subdag": False,
        "is_active": rng.random() < 0.95,
        "fileloc": f"/dags/dag_{i:04d}.py",
        "file_token": f"tok{i}",
        "owners": rng.choice(["airflow", "data-eng", "ml-team"]),
        "description": None if i % 7 == 0 else f"dag {i}",
        "root_dag_id": None,
        "schedule_interval": rng.choice([None, "@daily", "0 * * * *"]),
    }


def _run(rng, seq, dag_count, start):
    execution = start - rng.randint(1, 600)
    state = rng.choice(STATES)
    return {
        "dag_id": f"dag_{rng.randrange(dag_count):04d}",
        "dag_run_id": f"run_{seq:07d}",
        "end_date": iso(start + rng.randint(60, 3600)) if state in ("success", "failed") else None,
        "execution_date": iso(execution),
        "external_trigger": rng.random() < 0.2,
        "logical_date": iso(execution),
        "start_date": iso(start),
        "state": state,
    }


def _task(rng, run, task_id, start):
    state = rng.choice(STATES)
    done = state in ("success", "failed")
    return {
        "dag_id": run["dag_id"],
        "task_id": task_id,
        "execution_date": run["execution_date"],
        "start_date": iso(start),
        "end_date": iso(start + rng.randint(1, 900)) if done else None,
        "duration": round(rng.uniform(0.5, 900.0), 2) if done else None,
        "state": state,
        "try_number": rng.randint(1, 3),
        "max_tries": 3,
        "hostname": f"worker-{rng.randrange(16)}",
        "unixname": "airflow",
        "pool": "default_pool",
        "pool_slots": 1,
        "queue": rng.choice(["default", "heavy"]),
        "priority_weight": rng.randint(1, 10),
        "operator": rng.choice(OPERATORS),
        "queued_when": iso(start - rng.randint(1, 60)),
        "pid": rng.randint(1000, 65000),
        "executor_config": "{}",
    }


def _tasks_of(rng, runs, task_counts):
    """One task instance per task of the run's dag, for every run that
    started; a dag's tasks run one after another."""
    tasks = []
    for r in runs:
        if r["start_date"] is None:
            continue
        start = _epoch_us(r["start_date"]) // 1_000_000
        for t in range(task_counts[int(r["dag_id"][4:])]):
            tasks.append(_task(rng, r, f"task_{t}", start))
            start += rng.randint(1, 900)
    return tasks


def _pages(rows, size):
    return [rows[i:i + size] for i in range(0, len(rows), size)]


def make_batches(seed):
    """Per batch: {"dags": [...], "dag_runs": [...], "tasks": [...]} with each
    row list in page order (pages are cut from it)."""
    rng = random.Random(seed)
    task_counts = [rng.randint(1, MAX_TASKS_PER_DAG) for _ in range(200 + 50 * BATCHES)]
    batches = []
    run_seq = 0
    loaded_runs = []
    prev_run_page = prev_task_page = []
    for b in range(BATCHES):
        lo = BASE_EPOCH_S + b * WINDOW_S
        dag_count = 200 + 50 * b
        dags = [_dag(rng, i) for i in range(dag_count)]
        if b > 0:
            # dags already loaded arrive again, a few with an edited description
            for d in rng.sample(dags[:200], 20):
                d["description"] = f"edited in batch {b + 1}"
        runs = []
        for _ in range(NEW_RUNS_PER_BATCH):
            runs.append(_run(rng, run_seq, dag_count, rng.randrange(lo, lo + WINDOW_S)))
            run_seq += 1
        if b > 0:
            # late runs end before the previous batch's newest row, tasks included
            prev_lo = lo - WINDOW_S
            for _ in range(LATE_RUNS):
                runs.append(_run(rng, run_seq, dag_count,
                                 rng.randrange(prev_lo, lo - 4 * 3600)))
                run_seq += 1
        # a few queued runs carry no start_date and have no task instances yet;
        # kept only while no watermark exists
        for r in rng.sample(runs, 50):
            r["start_date"] = None
        tasks = _tasks_of(rng, runs, task_counts)
        if b > 0:
            for old in rng.sample(loaded_runs, REEXTRACTED_RUNS):
                again = dict(old)
                again["start_date"] = iso(rng.randrange(lo, lo + WINDOW_S))
                again["state"] = "success"
                runs.append(again)
            rng.shuffle(runs)
            rng.shuffle(tasks)
            runs = prev_run_page + runs
            tasks = prev_task_page + tasks
        # pagination overlap inside the batch: a page boundary row appears twice
        runs = runs[:DAG_RUN_PAGE] + runs[DAG_RUN_PAGE - 5:DAG_RUN_PAGE] + runs[DAG_RUN_PAGE:]
        if b == 0:
            loaded_runs = [r for r in runs if r["start_date"] is not None]
        prev_run_page = _pages(runs, DAG_RUN_PAGE)[-1]
        prev_task_page = _pages(tasks, TASK_PAGE)[-1]
        batches.append({"dags": dags, "dag_runs": runs, "tasks": tasks})
    return batches


def write_batches(batches, staging_dir):
    """Write each batch into staging_dir/batch_<k>/; returns the manifest."""
    manifest = {"rows": 0, "bytes": 0, "batches": []}
    for k, b in enumerate(batches, start=1):
        d = os.path.join(staging_dir, f"batch_{k}")
        os.makedirs(d)
        files = [("dags.json", b["dags"])]
        files += [(f"dagRuns{i}.json", p)
                  for i, p in enumerate(_pages(b["dag_runs"], DAG_RUN_PAGE), start=1)]
        files += [(f"taskInstances{i}.json", p)
                  for i, p in enumerate(_pages(b["tasks"], TASK_PAGE), start=1)]
        rows = size = 0
        for name, page in files:
            path = os.path.join(d, name)
            with open(path, "w") as f:
                json.dump(page, f)
            rows += len(page)
            size += os.path.getsize(path)
        manifest["batches"].append({"dir": d, "rows": rows, "bytes": size})
        manifest["rows"] += rows
        manifest["bytes"] += size
    with open(os.path.join(staging_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def _epoch_us(value):
    return None if value is None else int(
        datetime.datetime.fromisoformat(value).timestamp()) * 1_000_000


def _max_start(rows):
    starts = [r["start_date"] for r in rows if r["start_date"] is not None]
    return max(starts, key=_epoch_us) if starts else None


def _passes(row, wm):
    """Watermark filter: strictly newer rows; no filter before any watermark."""
    if wm is None:
        return True
    return row["start_date"] is not None and _epoch_us(row["start_date"]) > _epoch_us(wm)


def expected_tables(batches):
    """The rows each `rpt` table holds after every batch has loaded once."""
    dag, dag_run, task = {}, {}, []
    for b in batches:
        before = set(dag)
        for r in b["dags"]:
            if r["dag_id"] not in before:
                dag.setdefault(r["dag_id"], r)
        wm = _max_start(dag_run.values())
        before = set(dag_run)
        for r in b["dag_runs"]:
            key = (r["dag_run_id"], r["dag_id"])
            if _passes(r, wm) and key not in before:
                dag_run.setdefault(key, r)
        wm = _max_start(task)
        task += [r for r in b["tasks"] if _passes(r, wm)]
    return {"dag": list(dag.values()), "dag_run": list(dag_run.values()),
            "task_instance": task}


TIMESTAMP_FIELDS = {"end_date", "execution_date", "logical_date", "start_date", "queued_when"}


def canonical(row):
    """A row as a hashable tuple in column-name order, timestamps as epoch
    microseconds and executor_config as bytes (its type in `rpt`)."""
    out = []
    for k in sorted(row):
        v = row[k]
        if k in TIMESTAMP_FIELDS:
            v = _epoch_us(v)
        elif k == "executor_config" and v is not None:
            v = v.encode()
        out.append((k, v))
    return tuple(out)
