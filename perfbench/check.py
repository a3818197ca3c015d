"""Output checks, run after the timed part of a run.

Each checker returns a list of failure messages, one per item whose
output is wrong; an empty list means every item is correct.
"""
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.types as pat


def _bq_type(t):
    if pat.is_integer(t):
        return "INTEGER"
    if pat.is_floating(t):
        return "FLOAT"
    if pat.is_timestamp(t):
        return "TIMESTAMP"
    if pat.is_boolean(t):
        return "BOOLEAN"
    return "STRING"


def ingest_item(item, expected):
    """Compare one processed object with what the generator planted:
    the loaded table names, and for every sink table its row count and
    inferred column types. A malformed object must report an error.
    """
    name = item["object"]
    if expected.get("error"):
        return [] if "failed" in item else [f"{name}: loaded, expected an error"]
    if "failed" in item:
        return [f"{name}: {item['failed']}"]
    if item["errors"]:
        return [f"{name}: table errors {item['errors']}"]
    loaded = {t["name"]: t for t in item["loaded"]}
    if sorted(loaded) != sorted(expected["tables"]):
        return [f"{name}: tables {sorted(loaded)} != {sorted(expected['tables'])}"]
    planted = {frozenset(p["types"]): p for p in expected["planted"]}
    bad = []
    for t in loaded.values():
        table = pq.read_table(os.path.join(item["dataset"], t["name"]))
        types = {f.name: _bq_type(f.type) for f in table.schema}
        want = planted.pop(frozenset(types), None)
        if want is None:
            bad.append(f"{name}/{t['name']}: columns {sorted(types)} match no planted table")
        elif want["types"] != types:
            bad.append(f"{name}/{t['name']}: types {types} != {want['types']}")
        elif not want["rows"] == t["rows"] == table.num_rows:
            bad.append(f"{name}/{t['name']}: rows {t['rows']}/{table.num_rows} != {want['rows']}")
    return bad[:1]


def oracle(sqls, corpus_path, tmp_dir, **tables):
    """Run DuckDB oracle queries over the generated documents table and
    any arrow ``tables`` passed by name; one list of row dicts per query.
    """
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        quoted = corpus_path.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{quoted}')")
        for name, t in tables.items():
            con.register(name, t)
        out = []
        for sql in sqls:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out.append([dict(zip(cols, r)) for r in cur.fetchall()])
        return out
    finally:
        con.close()


def batch_report(rows, want):
    """The 12-row ``x_pipeline_master`` report against its oracle."""
    got = [(r["stage_idx"], r["stage"], r["n_docs"], r["n_tokens"]) for r in rows]
    exp = [(r["stage_idx"], r["stage"], r["n_docs"], r["n_tokens"]) for r in want]
    if got == exp:
        return []
    diff = [f"{g} != {e}" for g, e in zip(got, exp) if g != e] or [f"{len(got)} rows != {len(exp)}"]
    return ["report: " + "; ".join(diff[:3])]


# Report counters of the stages that judge each document alone (the
# funnel and the intra-document pass): any arrival split reproduces the
# one-shot run's values exactly.
PURE_COUNTERS = ("c_arrived", "c_screened", "c_intra_tokens")
# Counters from the whole-doc stage on: given the stream's whole-doc
# survivors, the one-shot oracle's later stages reproduce them exactly.
DEDUP_COUNTERS = ("c_whole_doc", "c_span", "c_curated", "c_tokens")
# CurateStream's whole-doc stage: Jaccard threshold over word 3-grams,
# MinHash size. Against earlier batches it decides by the MinHash
# estimate (standard error sqrt(t(1-t)/hashes), Dedup.scala), and its
# state keeps survivors only, so a pair within 4 standard errors of the
# threshold may go either way.
WHOLE_T, WHOLE_HASHES = 0.5, 128
WHOLE_BAND = 4 * math.sqrt(WHOLE_T * (1 - WHOLE_T) / WHOLE_HASHES)

_REPORT = "SELECT CAST(0 AS BIGINT) AS batch_id"
_WHOLE_CUT = "WHERE doc_id NOT IN (SELECT doc_id FROM cwrm)"


def stream_oracles(sql, corpus_path, tmp_dir, survivors):
    """Two runs of the ``x_curate_stream_master`` oracle: the documents
    that reach its whole-doc stage (doc_id, text, kept by that stage);
    and its report row with that stage's survivors replaced by the
    stream's ``survivors`` (a list of ids). The stages before it judge
    each document alone, so that row's counters up to
    ``c_intra_tokens`` are the one-shot ones.
    """
    if sql.count(_REPORT) != 1 or sql.count(_WHOLE_CUT) != 1:
        raise ValueError("the x_curate_stream_master oracle no longer has the "
                         "shape the stream check splits it at")
    head = sql[:sql.index(_REPORT)]
    pre = head + "SELECT doc_id, text, doc_id IN (SELECT doc_id FROM c7) AS kept FROM c6"
    over = sql.replace(_WHOLE_CUT, "WHERE doc_id IN (SELECT id FROM stream_whole)")
    whole = pa.table({"id": pa.array(sorted(set(survivors)), pa.int64())})
    c6, replayed = oracle([pre, over], corpus_path, tmp_dir, stream_whole=whole)
    return c6, replayed[0]


def _shingles(text):
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else {text}


def stream_report(outputs, c6, replayed, batch_of, survivors, n_files):
    """Check the stream's last cumulative report row and its whole-doc
    survivors against the one-shot oracle (CurateStreamSpec's
    split-equality, with the cross-batch MinHash caveat):

    - every arrival file was its own micro-batch;
    - a document's whole-doc verdict differs from the one-shot verdict
      only if a document of an earlier batch lies within ``WHOLE_BAND``
      of the threshold or above it, where the cross-batch estimate and
      the survivor-only state decide;
    - the oracle run over the stream's survivors gives the stream's
      counters exactly: the one-shot values up to ``c_intra_tokens``,
      and from ``c_whole_doc`` on the later stages over those survivors.
    """
    bad = []
    if outputs["batches"] != n_files:
        bad.append(f"{outputs['batches']} micro-batches != {n_files} arrival files")
    got = outputs["report"]
    texts = {r["doc_id"]: _shingles(r["text"]) for r in c6}
    kept = {r["doc_id"] for r in c6 if r["kept"]}
    alive = set(survivors)
    for d in sorted(kept ^ (alive & texts.keys())):
        near = [e for e in texts if batch_of[e] < batch_of[d]
                and len(texts[d] & texts[e]) / len(texts[d] | texts[e]) >= WHOLE_T - WHOLE_BAND]
        if not near:
            bad.append(f"doc {d} {'kept' if d in alive else 'removed'} at whole-doc, "
                       f"one-shot {'kept' if d in kept else 'removed'}, "
                       "and no earlier batch is near it")
            break
    if alive - texts.keys():
        bad.append(f"whole-doc survivors {sorted(alive - texts.keys())[:3]} "
                   "did not reach the whole-doc stage")
    bad += [f"{c} {got.get(c)} != {replayed[c]} (oracle over the stream's survivors)"
            for c in PURE_COUNTERS + DEDUP_COUNTERS if got.get(c) != replayed[c]]
    return ["stream report: " + "; ".join(bad)] if bad else []


def tree_size(path):
    """(bytes, files) under a directory."""
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files
