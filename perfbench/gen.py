"""Seeded input generators for the workloads.

Every generator takes a ``random.Random`` and writes plain files; the
engine sees nothing else. The same seed gives byte-identical files.

- ``ingest_objects``: messy CSVs, multi-sheet xlsx, typed parquet/jsonl,
  medium typed objects and malformed objects, plus the outcome each one
  should have.
- ``corpus``: a ``documents.parquet`` with the schema of the test data's
  documents table (doc_id, text, lang, source, n_chars), with planted
  exact duplicates, near duplicates and eval-set overlap.
- ``arrivals``: a corpus's non-eval documents split in doc_id order into
  arrival files for the streaming workload.
"""
import datetime
import io
import json
import os
import zipfile
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark line column order small sort fast value scan hash slow "
         "group agg filter query big key window row part table stream "
         "merge data join vector batch customer the a").split()
LANGS = [("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)]
N_EVAL = 20  # doc_id < 20 is the eval set of the curation master

# --------------------------------------------------------------- corpus

def corpus(rng, n_docs, path, exact_share=0.03, near_share=0.06,
           eval_share=0.03):
    """Write ``n_docs`` documents; return their measured property shares."""
    texts, kinds = [], []
    for i in range(n_docs):
        r = rng.random()
        if i >= N_EVAL + 10 and r < exact_share:
            kind, toks = "exact", list(texts[rng.randrange(N_EVAL, i)])
        elif i >= N_EVAL + 10 and r < exact_share + near_share:
            kind, toks = "near", list(texts[rng.randrange(N_EVAL, i)])
            for _ in range(max(1, len(toks) // 20)):
                toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            toks.append("dup")
        else:
            kind = "base"
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(10, 99))]
            if i >= N_EVAL and r > 1 - eval_share:
                kind = "eval"
                src = texts[rng.randrange(N_EVAL)]
                at = rng.randrange(len(src) - 6)
                pos = rng.randrange(len(toks))
                toks[pos:pos] = src[at:at + 6]
        texts.append(toks)
        kinds.append(kind)
    langs = rng.choices([l for l, _ in LANGS], [w for _, w in LANGS], k=n_docs)
    text = [" ".join(t) for t in texts]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": text,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), path)
    share = {k: round(kinds.count(k) / n_docs, 4) for k in ("exact", "near", "eval")}
    return {"docs": n_docs, "tokens": sum(len(t) for t in texts),
            "exact_dup_share": share["exact"], "near_dup_share": share["near"],
            "eval_overlap_share": share["eval"]}


def _injected(doc_id, text):
    """The raw "crawl bytes" of a document: its text plus the doc_id-keyed
    encoding garbage and Gopher bait of ``x_curate_stream_master`` (the
    SQL halves ``encGarbageSql`` and ``gopherBaitSql`` in ExtI.scala).
    """
    tail = ""
    if doc_id % 7 == 0:
        tail += "\ufffd" * (doc_id % 4 + 1)
    if doc_id % 5 == 0:
        tail += "\x07\x01\x7f"
    if doc_id % 11 == 0:
        tail += "\x85\x96"
    if doc_id % 13 == 0:
        tail += " ### ... 123"
    return text + tail


def arrivals(corpus_path, out_dir, n_files):
    """Split the corpus's arriving documents (doc_id >= N_EVAL) in doc_id
    order into ``n_files`` parquet files of (doc_id, text, tinj). File
    modification times rise with the doc ids, so a file stream source
    reads them in that order.
    """
    t = pq.read_table(corpus_path, columns=["doc_id", "text"])
    ids, texts = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    rows = [(i, x) for i, x in zip(ids, texts) if i >= N_EVAL]
    os.makedirs(out_dir)
    now = int(datetime.datetime.now().timestamp())
    for k in range(n_files):
        part = rows[k * len(rows) // n_files:(k + 1) * len(rows) // n_files]
        path = os.path.join(out_dir, f"arrival_{k:02d}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([i for i, _ in part], pa.int64()),
            "text": [x for _, x in part],
            "tinj": [_injected(i, x) for i, x in part],
        }), path)
        os.utime(path, (now - n_files + k, now - n_files + k))
    return {"arrival_files": n_files, "arriving_docs": len(rows)}


# --------------------------------------------------------------- ingest

COL_KINDS = ["INTEGER", "FLOAT", "TIMESTAMP", "BOOLEAN", "STRING"]
_DAY0 = datetime.datetime(2024, 1, 1)


def _value(rng, kind):
    if kind == "INTEGER":
        return str(rng.randint(-5000, 100000))
    if kind == "FLOAT":
        return f"{rng.uniform(-1000, 1000):.2f}"
    if kind == "TIMESTAMP":
        t = _DAY0 + datetime.timedelta(minutes=rng.randrange(600000))
        return t.strftime("%Y-%m-%d %H:%M:%S" if rng.random() < 0.5 else "%Y-%m-%d")
    if kind == "BOOLEAN":
        return rng.choice(["yes", "no", "true", "false"])
    return f"{rng.choice(VOCAB)}-{rng.choice(VOCAB)}"


def _table(rng, tag, slot):
    """One planted table: header row, rows of typed string cells, and the
    outcome it should load as. Its shape (columns, their types, rows)
    comes from ``slot``, so every seed plants tables of the same shapes;
    the seed picks the cell values.
    """
    n_cols = 3 + slot % 4
    kinds = [COL_KINDS[(slot + i) % len(COL_KINDS)] for i in range(n_cols)]
    # the first cell of every row holds content, so rows stay connected
    kinds[0] = ("INTEGER", "STRING")[slot % 2]
    names = [f"{tag}_{VOCAB[(i * 7 + slot) % len(VOCAB)]}_{i}" for i in range(n_cols)]
    n_rows = 8 + 9 * (slot % 4)
    rows = []
    for r in range(n_rows):
        row = [_value(rng, k) for k in kinds]
        for c in range(1, n_cols):
            if r > 0 and rng.random() < 0.03:
                row[c] = ""
        rows.append(row)
    for c, k in enumerate(kinds):  # keep each FLOAT column non-integral
        if k == "FLOAT":
            rows[0][c] = "0.50"
    return [names] + rows, {"rows": n_rows, "types": dict(zip(names, kinds))}


def _place(blocks, layout, title=True):
    """Lay out tables on a grid: stacked (blank row between) or side by
    side (blank column between), under a title row and over a notes row
    (or, without ``title``, alone).
    """
    grid = {}
    r0 = 2 if title else 0  # title row, then a blank row
    if layout == "side":
        c0 = 0
        for b in blocks:
            for r, row in enumerate(b):
                for c, v in enumerate(row):
                    grid[(r0 + r, c0 + c)] = v
            c0 += len(b[0]) + 1
        r0 += max(len(b) for b in blocks)
    else:
        for b in blocks:
            for r, row in enumerate(b):
                for c, v in enumerate(row):
                    grid[(r0 + r, c)] = v
            r0 += len(b) + 1
    if title:
        grid[(0, 0)] = "Quarterly export"
        grid[(r0 + 1, 0)] = "generated by the ledger service"
    n_rows = max(r for r, _ in grid) + 1
    n_cols = max(c for _, c in grid) + 1
    return [[grid.get((r, c), "") for c in range(n_cols)] for r in range(n_rows)]


def _names(base, sheet, n_sheets, n_tables):
    """The sink table names ``Ingest.tableName`` gives a sheet's tables."""
    parts = [base]
    if sheet != "_default_" or n_sheets > 1 or n_tables > 1:
        parts.append(sheet)
    return ["_".join(parts + ([f"table_{i}"] if n_tables > 1 else []))
            for i in range(1, n_tables + 1)]


def _write_csv(rng, path, base, n_tables, layout, tsv=False):
    """A delimited export: title row, gap rows and a notes row around
    the tables, every row padded to full width. A tab-separated export
    is one bare table: its gap rows would be all tabs, which
    ``Grid.readCsv`` drops (a known engine defect, see README.md), and
    a workload must not fail.
    """
    planted = [_table(rng, f"t{k}", k + n_tables) for k in range(n_tables)]
    grid = _place([p[0] for p in planted], layout, title=not tsv)
    delim = "\t" if tsv else rng.choice([",", ";", "|"])
    with open(path, "w", newline="") as f:
        for row in grid:  # every row padded to full width, like an export
            f.write(delim.join(row) + "\n")
    return {"tables": _names(base, "_default_", 1, n_tables),
            "planted": [p[1] for p in planted]}


def _xlsx_bytes(sheets):
    """A minimal xlsx: shared strings for text, numeric cells as values."""
    strings, index = [], {}

    def cell(r, c, v):
        ref = ""
        n = c + 1
        while n:
            n, rem = divmod(n - 1, 26)
            ref = chr(65 + rem) + ref
        ref += str(r + 1)
        try:
            float(v)
            return f'<c r="{ref}"><v>{v}</v></c>'
        except ValueError:
            if v not in index:
                index[v] = len(strings)
                strings.append(v)
            return f'<c r="{ref}" t="s"><v>{index[v]}</v></c>'

    parts = {}
    for i, (_, grid) in enumerate(sheets, 1):
        rows = "".join(
            f'<row r="{r + 1}">' + "".join(cell(r, c, v) for c, v in enumerate(row) if v) + "</row>"
            for r, row in enumerate(grid) if any(row))
        parts[f"xl/worksheets/sheet{i}.xml"] = (
            '<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns='
            '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{rows}</sheetData></worksheet>")
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    parts["xl/workbook.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} {rns}><sheets>'
        + "".join(f'<sheet name="{escape(n)}" sheetId="{i}" r:id="rId{i}"/>'
                  for i, (n, _) in enumerate(sheets, 1))
        + "</sheets></workbook>")
    parts["xl/_rels/workbook.xml.rels"] = (
        '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(f'<Relationship Id="rId{i}" Type="worksheet" '
                  f'Target="worksheets/sheet{i}.xml"/>' for i in range(1, len(sheets) + 1))
        + "</Relationships>")
    parts["xl/sharedStrings.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><sst {ns}>'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in strings) + "</sst>")
    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8"?><Types xmlns='
        '"http://schemas.openxmlformats.org/package/2006/content-types"/>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, parts[name])
    return buf.getvalue()


def _write_xlsx(rng, path, base, tables_per_sheet):
    sheets, names, planted = [], [], []
    for s, n in enumerate(tables_per_sheet):
        sheet = f"{rng.choice(['Sales', 'Stock', 'Staff', 'Costs'])} {2020 + s}"
        tabs = [_table(rng, f"s{s}t{k}", s + k) for k in range(n)]
        sheets.append((sheet, _place([t[0] for t in tabs], ("stack", "side")[s % 2])))
        names += _names(base, sheet.replace(" ", "_"), len(tables_per_sheet), n)
        planted += [t[1] for t in tabs]
    with open(path, "wb") as f:
        f.write(_xlsx_bytes(sheets))
    return {"tables": names, "planted": planted}


def _typed_columns(rng, n_rows, tag):
    cols = {
        f"{tag}_id": pa.array(range(n_rows), pa.int64()),
        f"{tag}_amount": pa.array([round(rng.uniform(-500, 500), 2) + 0.25 for _ in range(n_rows)]),
        f"{tag}_label": [f"{rng.choice(VOCAB)}-{rng.choice(VOCAB)}" for _ in range(n_rows)],
        f"{tag}_flag": pa.array([rng.random() < 0.5 for _ in range(n_rows)]),
        f"{tag}_at": [(_DAY0 + datetime.timedelta(seconds=rng.randrange(10 ** 8)))
                      .strftime("%Y-%m-%d %H:%M:%S") for _ in range(n_rows)],
    }
    types = {f"{tag}_id": "INTEGER", f"{tag}_amount": "FLOAT", f"{tag}_label": "STRING",
             f"{tag}_flag": "BOOLEAN", f"{tag}_at": "TIMESTAMP"}
    return cols, {"rows": n_rows, "types": types}


def _write_typed(rng, path, base, n_rows):
    cols, planted = _typed_columns(rng, n_rows, "c")
    if path.endswith(".parquet"):
        pq.write_table(pa.table(cols), path)
    else:
        keys = list(cols)
        vals = [c.to_pylist() if isinstance(c, pa.Array) else c for c in cols.values()]
        with open(path, "w") as f:
            for row in zip(*vals):
                f.write(json.dumps(dict(zip(keys, row))) + "\n")
    return {"tables": [base], "planted": [planted]}


def _write_malformed(rng, path, kind):
    if kind == "xml":  # a workbook whose sheet part is cut short
        good = zipfile.ZipFile(io.BytesIO(
            _xlsx_bytes([("Data", [["a_x", "b_y"], ["1", "2"], ["3", "4"]])])))
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as out:
            for name in sorted(good.namelist()):
                part = good.read(name)
                if name.endswith("sheet1.xml"):
                    part = part[: len(part) // 2]
                out.writestr(zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0)), part)
        data = buf.getvalue()
    else:  # a parquet file cut in half
        buf = io.BytesIO()
        pq.write_table(pa.table(_typed_columns(rng, 500, "m")[0]), buf)
        data = buf.getvalue()[: buf.tell() // 2]
    with open(path, "wb") as f:
        f.write(data)
    return {"error": True}


# One ingest pass: (kind, shape) per object. The kinds are those of the
# reference's messy-grid fixtures (FIXTURES.md B1, B6-B8); the shares and
# sizes are this benchmark's choice, not measured worker traffic. The
# shapes are fixed so that every seed gives the same mix of costs: tables
# per CSV, tables per xlsx sheet, rows per typed object (and, in
# ``_table``, each table's columns and rows). The seed varies the
# contents. Six small single-table objects of about the same cost hold
# the median item, so it does not jump between two cost classes; two
# medium objects are the slowest, so the tail item is one of them.
INGEST_MIX = [("csv", 1), ("csv", 1), ("tsv", 1), ("parquet", 300),
              ("jsonl", 300), ("csv", 1), ("csv", 3), ("xlsx", (2, 1, 1)),
              ("medium", 20000), ("medium", 20000),
              ("malformed", "xml"), ("malformed", "parquet")]
# the worker's warm-up: one two-table CSV (other contents)
WARMUP_MIX = [("csv", 2)]
_EXT = {"csv": "csv", "tsv": "csv", "xlsx": "xlsx", "parquet": "parquet",
        "jsonl": "jsonl", "medium": "parquet"}


def ingest_objects(rng, out_dir, mix=INGEST_MIX, prefix="obj"):
    """Write one object per entry of ``mix``; return (file names in mix
    order, expected outcome per file). The order is fixed so that every
    seed warms the same code paths in the same sequence.
    """
    os.makedirs(out_dir, exist_ok=True)
    expected = {}
    for i, (kind, shape) in enumerate(mix):
        base = f"{prefix}_{i:03d}"
        ext = {"zip": "xlsx", "xml": "xlsx"}.get(shape, "parquet") \
            if kind == "malformed" else _EXT[kind]
        name = f"{base}.{ext}"
        path = os.path.join(out_dir, name)
        if kind in ("csv", "tsv"):
            exp = _write_csv(rng, path, base, shape, ("stack", "side")[i % 2],
                             tsv=kind == "tsv")
        elif kind == "xlsx":
            exp = _write_xlsx(rng, path, base, shape)
        elif kind == "malformed":
            exp = _write_malformed(rng, path, shape)
        else:
            exp = _write_typed(rng, path, base, shape)
        exp["kind"] = kind
        expected[name] = exp
    return list(expected), expected


def ingest_shares(expected):
    """Measured property shares of an ingest object set."""
    n = len(expected)
    good = [e for e in expected.values() if not e.get("error")]
    return {
        "objects": n,
        "tables": sum(len(e["tables"]) for e in good),
        "rows": sum(p["rows"] for e in good for p in e["planted"]),
        "multi_table_share": round(sum(len(e["tables"]) > 1 for e in good) / n, 4),
        "xlsx_share": round(sum(e["kind"] == "xlsx" for e in expected.values()) / n, 4),
        "typed_share": round(sum(e["kind"] in ("parquet", "jsonl", "medium")
                                 for e in expected.values()) / n, 4),
        "medium_share": round(sum(e["kind"] == "medium" for e in expected.values()) / n, 4),
        "malformed_share": round(sum(e["kind"] == "malformed" for e in expected.values()) / n, 4),
    }
