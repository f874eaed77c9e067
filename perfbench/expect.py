"""Regenerates perfbench/expected.json: the output digests every checked
operation must reproduce.

Usage: python3 perfbench/expect.py

- Runs the whole catalog twice at sf0.01 and the headline queries twice
  at sf0.1, each time in a fresh JVM, and keeps an entry only when both
  runs agree and neither failed (failing or unstable entries are listed
  under `excluded`). Each kept catalog entry also records its seconds in
  that sweep (`catalog_cold_s`), which catalog_cold's sampler uses to
  balance cost.
- Ingests the sf0.1 documents with two different seeded batch splits and
  keeps the final `canonical` digest only when both agree.
- Cross-checks once against DuckDB: every entry with oracle SQL, and the
  corpus through a one-shot DuckDB form of the pp4 pipeline, must give
  the same digest from DuckDB. Mismatches are listed under
  `duckdb_mismatch`.
"""
import json
import os
import re
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

OUT = os.path.join(HERE, "expected.json")


def expect_run(classes, jars, sf_path, names, tag):
    work = os.path.join(run.WORK, "expect-" + tag)
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "out.jsonl")
    if os.path.exists(out):
        os.remove(out)
    cmd = run.java_cmd(classes, jars, work, "graft.perfbench.Expect",
                       [sf_path, out] + names)
    _, rc = run.run_jvm(cmd, work, "jvm.log", timeout=3600)
    recs = run.read_jsonl(out)
    if rc != 0:
        raise SystemExit(f"Expect JVM exited {rc}; see {work}/jvm.log")
    return {r["name"]: r for r in recs}


def duckdb_digest(sf_path, sql):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_path, t + '.parquet')}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest.of(cols, cur.fetchall())


def stable(a, b, excluded):
    keep = {}
    for name, r in a.items():
        s = b.get(name)
        if r["error"] or (s and s["error"]):
            excluded[name] = "fails: " + (r["error"] or s["error"])[:300]
        elif s is None or r["digest"] != s["digest"]:
            excluded[name] = "digest differs between two runs"
        else:
            keep[name] = r["digest"]
    return keep


def corpus_digest(classes, jars, sf_path, seed):
    args = types.SimpleNamespace(workload="corpus_ingest", seed=seed, seconds=0)
    n_docs, _ = run.text_bytes_of(sf_path)
    plan = workloads.corpus_ingest(seed, n_docs)
    plan["ops"] = [op for op in plan["ops"] if op[1] == 0]
    recs, _ = run.run_workload(args, classes, jars, sf_path, plan, False,
                               run.time.time() + 3600)
    return [r for r in recs if r["kind"] == "read"][-1]["digest"]


def main():
    classes, jars, _ = build.build()
    sf01 = datagen.ensure(os.path.join(run.WORK, "data"), 0.01)
    sf1 = datagen.ensure(os.path.join(run.WORK, "data"), 0.1)
    excluded, mismatch = {}, {}
    cat = [expect_run(classes, jars, sf01, [], f"catalog{i}") for i in (0, 1)]
    catalog = stable(cat[0], cat[1], excluded)
    head = [expect_run(classes, jars, sf1, workloads.HEADLINE, f"olap{i}") for i in (0, 1)]
    olap = stable(head[0], head[1], excluded)
    for recs, sf_path, keep in ((cat[0], sf01, catalog), (head[0], sf1, olap)):
        for name, r in recs.items():
            if r["oracle"] and name in keep:
                try:
                    d = duckdb_digest(sf_path, r["oracle"])
                except Exception as e:  # noqa: BLE001 - reported, not fatal
                    d = f"duckdb error: {e}"[:300]
                if d != keep[name]:
                    mismatch[name] = {"spark": keep[name], "duckdb": d}
    canon = [corpus_digest(classes, jars, sf1, s) for s in (1, 2)]
    if canon[0] != canon[1]:
        raise SystemExit(f"corpus canonical digest depends on the batch split: {canon}")
    pp4 = cat[0]["pp4_incremental_corpus"]["oracle"]
    one_shot = re.sub(r"\bdoc_id % 2 AS b\b", "0 AS b", pp4)
    d = duckdb_digest(sf1, one_shot)
    if d != canon[0]:
        mismatch["corpus_canonical"] = {"spark": canon[0], "duckdb": d}
    doc = {
        "catalog_sf0.01": dict(sorted(catalog.items())),
        "catalog_cold_s": {n: round(min(c[n]["wall_s"] for c in cat), 3)
                           for n in sorted(catalog)},
        "olap_sf0.1": dict(sorted(olap.items())),
        "corpus_sf0.1": {"canonical": canon[0]},
        "duckdb_checked": sum(1 for r in cat[0].values() if r["oracle"]) + len(olap) + 1,
        "duckdb_mismatch": mismatch,
        "excluded": excluded,
    }
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(f"{len(catalog)} catalog + {len(olap)} olap digests; "
          f"{len(mismatch)} DuckDB mismatches; {len(excluded)} excluded")


if __name__ == "__main__":
    main()
