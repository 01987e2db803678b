"""Output checks run after a benchmark run's loop; each returns the set of
op indexes whose output was wrong, with one reason per failing op."""
import json
import os

import duckdb


def fresh_etl(run_dir, result):
    """clean + quarantined = staged per entity and batch; after commit no
    constraint is violated and the store equals a one-shot load of every
    batch. A store-wide failure fails every batch."""
    plan = json.load(open(os.path.join(run_dir, "plan.json")))
    notes = result["notes"]
    bad = {}
    batch_ops = [(i, op) for i, op in enumerate(result["ops"]) if op["kind"] == "batch"]
    for n, (i, op) in enumerate(batch_ops):
        staged = plan["batches"][n + 1]["staged"]  # batch 0 is the set-up's
        for entity, (clean, quarantined) in op["fields"].get("counts", {}).items():
            if clean + quarantined != staged[entity]:
                bad[i] = f"{entity}: clean {clean} + quarantined {quarantined} != staged {staged[entity]}"
    store_wide = [f"{t}: {v} violations after commit"
                  for t, v in notes.get("post_commit_violations", {}).items() if v] + \
                 [f"{t}: {v} rows differ from a one-shot load"
                  for t, v in notes.get("oneshot_diff_rows", {}).items() if v]
    if "oneshot_diff_rows" not in notes:
        store_wide.append("store checks did not run")
    if store_wide:
        for i, _ in batch_ops:
            bad.setdefault(i, "; ".join(store_wide))
    return bad


def corpus_stream(run_dir, result):
    """The admitted doc set equals the q199 monolithic oracle on the
    ingested corpus, and maintained BM25 top-k equals monolithic BM25."""
    notes = result["notes"]
    problems = []
    if notes.get("bm25_mismatches", 1):
        problems.append("maintained BM25 top-k differs from SearchOps.bm25")
    if "corpus_dir" in notes:
        con = duckdb.connect()
        docs = os.path.join(notes["corpus_dir"], "documents.parquet", "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
        want = {r[0] for r in con.execute(notes["q199_oracle"]).fetchall()}
        every = {r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()}
        cut = set(json.load(open(os.path.join(run_dir, "cut_ids.json"))))
        if every - cut != want:
            problems.append(f"admitted set differs from the q199 oracle "
                            f"({len((every - cut) ^ want)} docs)")
    else:
        problems.append("store checks did not run")
    bad = {}
    if problems:
        for i, op in enumerate(result["ops"]):
            if op["kind"] == "epoch":
                bad[i] = "; ".join(problems)
    return bad


CHECKS = {"fresh_etl": fresh_etl, "corpus_stream": corpus_stream}
