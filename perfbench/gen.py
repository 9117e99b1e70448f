"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files.  The package under test only ever sees the files.

- ``envelope_messages``: a multi-table Kafka-style envelope (one JSON
  payload per line) for two v22 entities, ACCT and ADDR, discriminated by
  ``INFA_TABLE_NAME LIKE '%_ACCT'`` / ``'%_ADDR'``.  Each key has about
  eight versions ordered by ``SEQ`` and shuffled in arrival order; some
  dates are dirty (``TRY_CAST`` yields NULL); about a fifth of ADDR keys
  point at an account that never exists (quarantined); a small share of
  lines are not JSON at all, and some belong to a third table no view
  selects.
- ``pipeline_rows``: the v22 STTM mapping rows for that envelope,
  VIEW x2 -> XREF x2 -> FGAC (INNER join + ``mask:sha2``) -> QUARANTINE.
- ``wide_rows``: a wide v22 mapping sheet (many entities, chained FGAC LEFT
  joins with masks, QUARANTINE targets) for the compile-only workload.
- ``registry_tables``: seeded ``events``, ``customer``, ``orders`` and
  ``documents`` parquet tables for the query-registry workload.
"""

from __future__ import annotations

import json
import os
import random
import zipfile

from confluent_data_ingestion_spark.spec.xlsx import write_workbook

V22_HEADER = [
    "PipelineStage", "TargetTable", "TargetColumn", "TargetDataType",
    "IsTargetPK", "SourcePrimaryTable", "SourcePrimaryAlias", "SourceField",
    "MessageFormat", "FieldSelector", "SourceTransformExpr", "ExprOverride",
    "FilterPredicate", "JoinTable", "JoinAlias", "JoinType", "JoinCondition",
    "OrderByFields", "DeleteFlagField", "DeleteFlagValues",
]

CITIES = ["Oslo", "Lyon", "Porto", "Graz", "Turku", "Gent", "Brno", "Cork"]
DIRTY_DATES = ["2024-02-30", "31/12/2023", "N/A", "", "2023-13-01"]


def _date(rng: random.Random) -> str:
    if rng.random() < 0.1:
        return rng.choice(DIRTY_DATES)
    return f"{rng.randint(2015, 2025)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def envelope_messages(seed: int, n_acct: int, n_addr: int) -> list[str]:
    """Envelope lines (no trailing newline), in arrival order."""
    rng = random.Random(seed)
    msgs: list[str] = []
    for k in range(1, n_acct + 1):
        versions = rng.randint(6, 10)
        for seq in rng.sample(range(1, 100), versions):
            name = f"acct-{rng.randrange(10**6):06d}"
            if rng.random() < 0.1:
                name = f"  {name} "
            bal = "N/A" if rng.random() < 0.05 else f"{rng.randint(-10**6, 10**7) / 100:.2f}"
            msgs.append(json.dumps({
                "INFA_TABLE_NAME": "CORE_ACCT", "ACCT_ID": str(k),
                "ACCT_NM": name, "OPEN_DT": _date(rng), "BAL": bal,
                "SEQ": str(seq),
            }))
    for k in range(1, n_addr + 1):
        # ~20% orphans: the account id lies past every generated account
        acct = (n_acct + rng.randint(1, n_acct) if rng.random() < 0.2
                else rng.randint(1, n_acct))
        versions = rng.randint(6, 10)
        for seq in rng.sample(range(1, 100), versions):
            msgs.append(json.dumps({
                "INFA_TABLE_NAME": "CORE_ADDR", "ADDR_ID": str(k),
                "ACCT_ID": str(acct), "CITY": rng.choice(CITIES),
                "UPD_DT": _date(rng), "SEQ": str(seq),
            }))
    n_noise = len(msgs) // 50
    for i in range(n_noise):
        msgs.append(json.dumps({"INFA_TABLE_NAME": "CORE_AUDIT", "EVT": str(i)}))
    for i in range(n_noise // 2):
        msgs.append(f"CORE_ACCT|{rng.randint(1, n_acct)}|not-json-{i}")
    rng.shuffle(msgs)
    return msgs


def write_envelope_parts(out_dir: str, lines: list[str], parts: int) -> list[str]:
    """Split the envelope round-robin into ``parts`` NDJSON files, the
    file-based stand-in for a topic's partitions."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for p in range(parts):
        path = os.path.join(out_dir, f"part-{p:03d}.json")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write("".join(line + "\n" for line in lines[p::parts]))
        paths.append(path)
    return paths


def _row(**kw) -> list:
    return [kw.get(h, "") for h in V22_HEADER]


def pipeline_rows() -> list[list]:
    """The paper's pipeline over the ACCT/ADDR envelope, as v22 rows."""
    rows = []
    for col, typ, pk in [("ACCT_ID", "BIGINT", "Y"), ("ACCT_NM", "STRING", ""),
                         ("OPEN_DT", "DATE", ""), ("BAL", "DECIMAL(12,2)", ""),
                         ("SEQ", "INT", "")]:
        rows.append(_row(PipelineStage="VIEW", TargetTable="ACCT_view",
                         TargetColumn=col, TargetDataType=typ, IsTargetPK=pk,
                         SourceField=col, MessageFormat="JSON", FieldSelector="val",
                         FilterPredicate="INFA_TABLE_NAME LIKE '%_ACCT'"))
    for col, typ, pk in [("ADDR_ID", "BIGINT", "Y"), ("ACCT_ID", "BIGINT", ""),
                         ("CITY", "STRING", ""), ("UPD_DT", "DATE", ""),
                         ("SEQ", "INT", "")]:
        rows.append(_row(PipelineStage="VIEW", TargetTable="ADDR_view",
                         TargetColumn=col, TargetDataType=typ, IsTargetPK=pk,
                         SourceField=col, MessageFormat="JSON", FieldSelector="val",
                         FilterPredicate="INFA_TABLE_NAME LIKE '%_ADDR'"))
    for col, typ, pk in [("ACCT_ID", "BIGINT", "Y"), ("ACCT_NM", "STRING", ""),
                         ("OPEN_DT", "DATE", ""), ("BAL", "DECIMAL(12,2)", "")]:
        rows.append(_row(PipelineStage="XREF", TargetTable="XREF_ACCT",
                         TargetColumn=col, TargetDataType=typ, IsTargetPK=pk,
                         SourcePrimaryTable="ACCT_view", SourcePrimaryAlias="a",
                         SourceField=col, OrderByFields="SEQ"))
    for col, typ, pk in [("ADDR_ID", "BIGINT", "Y"), ("ACCT_ID", "BIGINT", ""),
                         ("CITY", "STRING", ""), ("UPD_DT", "DATE", "")]:
        rows.append(_row(PipelineStage="XREF", TargetTable="XREF_ADDR",
                         TargetColumn=col, TargetDataType=typ, IsTargetPK=pk,
                         SourcePrimaryTable="ADDR_view", SourcePrimaryAlias="d",
                         SourceField=col, OrderByFields="SEQ"))
    join = dict(JoinTable="XREF_ACCT", JoinAlias="a",
                JoinCondition="d.ACCT_ID = a.ACCT_ID")
    for col, typ, pk, src, override in [
        ("ADDR_ID", "BIGINT", "Y", "d.ADDR_ID", ""),
        ("ACCT_ID", "BIGINT", "", "d.ACCT_ID", ""),
        ("CITY", "STRING", "", "d.CITY", ""),
        ("ACCT_NM_MASK", "STRING", "", "a.ACCT_NM", "mask:sha2"),
        ("OPEN_DT", "DATE", "", "a.OPEN_DT", ""),
        ("BAL", "DECIMAL(12,2)", "", "a.BAL", ""),
    ]:
        rows.append(_row(PipelineStage="FGAC", TargetTable="FGAC_ADDR",
                         TargetColumn=col, TargetDataType=typ, IsTargetPK=pk,
                         SourcePrimaryTable="XREF_ADDR", SourcePrimaryAlias="d",
                         SourceField=src, ExprOverride=override,
                         JoinType="INNER", **join))
    for col, typ, pk in [("ADDR_ID", "BIGINT", "Y"), ("ACCT_ID", "BIGINT", ""),
                         ("CITY", "STRING", "")]:
        rows.append(_row(PipelineStage="QUARANTINE", TargetTable="QUARANTINE_ADDR",
                         TargetColumn=col, TargetDataType=typ, IsTargetPK=pk,
                         SourcePrimaryTable="XREF_ADDR", SourcePrimaryAlias="d",
                         SourceField=f"d.{col}", JoinType="LEFT",
                         FilterPredicate="a.ACCT_ID IS NULL", **join))
    return rows


def write_v22_workbook(path: str, rows: list[list]) -> None:
    """Write the mapping sheet with the package's xlsx writer, then re-pack
    the zip with fixed member timestamps so the bytes depend only on the
    rows."""
    write_workbook(path, {"STTM_Mapping": [V22_HEADER, *rows]})
    with zipfile.ZipFile(path) as z:
        members = [(i.filename, z.read(i)) for i in z.infolist()]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members:
            z.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)),
                       data, compress_type=zipfile.ZIP_DEFLATED)


_TYPES = ["STRING", "BIGINT", "INT", "DATE", "DECIMAL(12,2)", "DOUBLE"]


def wide_rows(seed: int, n_entities: int, n_cols: int) -> list[list]:
    """A wide v22 mapping sheet: per entity a JSON VIEW, an XREF, an FGAC
    target LEFT-joined to the previous entity's XREF (a chain) with a
    quarter of its columns masked, and every third entity a QUARANTINE target."""
    rng = random.Random(seed)
    rows: list[list] = []
    prev_cols: dict[str, str] = {}
    for e in range(n_entities):
        ent = f"E{e:02d}"
        cols = [("K", "BIGINT"), ("PK", "BIGINT"), ("SEQ", "INT")]
        # the same type mix and mask count in every entity; the seed only
        # places them, so the compile work does not depend on the seed
        types = [_TYPES[c % len(_TYPES)] for c in range(n_cols - 3)]
        rng.shuffle(types)
        cols += [(f"C{c:02d}", t) for c, t in enumerate(types)]
        view = f"{ent}_view"
        for name, typ in cols:
            rows.append(_row(PipelineStage="VIEW", TargetTable=view,
                             TargetColumn=name, TargetDataType=typ,
                             IsTargetPK="Y" if name == "K" else "",
                             SourceField=name, MessageFormat="JSON",
                             FieldSelector="val",
                             FilterPredicate=f"INFA_TABLE_NAME LIKE '%_{ent}'"))
        xref = f"XREF_{ent}"
        for name, typ in cols:
            if name == "SEQ":
                continue
            rows.append(_row(PipelineStage="XREF", TargetTable=xref,
                             TargetColumn=name, TargetDataType=typ,
                             IsTargetPK="Y" if name == "K" else "",
                             SourcePrimaryTable=view, SourcePrimaryAlias="s",
                             SourceField=name, OrderByFields="SEQ"))
        prev_types, prev_cols = prev_cols, dict(cols)
        if e == 0:
            continue
        prev = f"XREF_E{e - 1:02d}"
        join = dict(JoinTable=prev, JoinAlias="p", JoinCondition="s.PK = p.K")
        masks = set(rng.sample([n for n, _ in cols if n not in ("K", "SEQ")],
                               n_cols // 4))
        for name, typ in cols:
            if name == "SEQ":
                continue
            masked = name in masks
            rows.append(_row(PipelineStage="FGAC", TargetTable=f"FGAC_{ent}",
                             TargetColumn=name,
                             TargetDataType="STRING" if masked else typ,
                             IsTargetPK="Y" if name == "K" else "",
                             SourcePrimaryTable=xref, SourcePrimaryAlias="s",
                             SourceField=f"s.{name}",
                             ExprOverride="mask:sha2" if masked else "",
                             JoinType="LEFT", **join))
        rows.append(_row(PipelineStage="FGAC", TargetTable=f"FGAC_{ent}",
                         TargetColumn="P_C03", TargetDataType=prev_types["C03"],
                         SourcePrimaryTable=xref, SourcePrimaryAlias="s",
                         SourceField="p.C03", JoinType="LEFT", **join))
        if e % 3 == 0:
            for name, typ in cols[:4]:
                if name == "SEQ":
                    continue
                rows.append(_row(PipelineStage="QUARANTINE",
                                 TargetTable=f"QUARANTINE_{ent}",
                                 TargetColumn=name, TargetDataType=typ,
                                 IsTargetPK="Y" if name == "K" else "",
                                 SourcePrimaryTable=xref, SourcePrimaryAlias="s",
                                 SourceField=f"s.{name}",
                                 FilterPredicate="p.K IS NULL", JoinType="LEFT",
                                 **join))
    return rows


WORDS = ["the", "spark", "stream", "join", "key", "order", "batch", "merge",
         "window", "scan", "table", "row", "column", "hash", "sort", "filter",
         "value", "query", "data", "line", "part", "agg", "group", "vector",
         "fast", "slow", "small", "big", "customer", "a"]
EVENT_TYPES = ["purchase", "signup", "view", "click", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _props(rng: random.Random) -> str:
    # no decimal or exponent strings: TRY_CAST('1e3' AS INT) is 1000 in
    # DuckDB and NULL in Spark, an engine difference, not a package one
    r = rng.random()
    if r < 0.04:
        return json.dumps({"k": rng.choice(["", " ", "x7", "n/a"])})
    if r < 0.06:
        return "{}"
    if r < 0.08:
        return json.dumps({"k": f" {rng.randint(0, 99)} "})
    return json.dumps({"k": rng.randint(0, 99)})


def registry_tables(seed: int, n_events: int, n_customers: int,
                    n_docs: int) -> dict:
    """Seeded stand-ins for the registry's ``events``, ``customer``,
    ``orders`` and ``documents`` tables (same names and column types),
    as pyarrow tables.

    Events: several per user, a dirty share of ``props`` payloads (empty,
    non-numeric or padded ``k``, missing key), ``ts`` ties broken by
    ``event_id``.  Orders: ten per customer on average, a tenth pointing at
    a customer that does not exist; a third of customers have a negative
    balance.  Documents: word soup with planted exact copies and
    near-duplicates (one word changed)."""
    import datetime

    import pyarrow as pa

    rng = random.Random(seed)
    base = datetime.datetime(2024, 1, 1)
    n_users = max(1, n_events // 8)
    ev = {"event_id": [], "ts": [], "user_id": [], "event_type": [],
          "value": [], "props": []}
    for i in range(n_events):
        ev["event_id"].append(i)
        # second resolution so some users have ts ties
        ev["ts"].append(base + datetime.timedelta(seconds=rng.randrange(86400 * 30)))
        ev["user_id"].append(rng.randrange(n_users))
        ev["event_type"].append(rng.choice(EVENT_TYPES))
        ev["value"].append(None if rng.random() < 0.02
                           else rng.randint(0, 50000) / 100)
        ev["props"].append(_props(rng))
    cust = {"c_custkey": [], "c_name": [], "c_nationkey": [], "c_acctbal": [],
            "c_mktsegment": []}
    for c in range(n_customers):
        cust["c_custkey"].append(c)
        cust["c_name"].append(f"Customer#{c:09d}")
        cust["c_nationkey"].append(rng.randrange(25))
        cust["c_acctbal"].append(rng.randint(-99999, 199999) / 100)
        cust["c_mktsegment"].append(rng.choice(SEGMENTS))
    orders = {"o_orderkey": [], "o_custkey": [], "o_orderstatus": [],
              "o_totalprice": [], "o_orderdate": [], "o_orderpriority": []}
    for o in range(n_customers * 10):
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(
            n_customers + rng.randrange(n_customers) if rng.random() < 0.1
            else rng.randrange(n_customers))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(rng.randint(100, 50000000) / 100)
        orders["o_orderdate"].append(
            datetime.datetime(1992, 1, 1) + datetime.timedelta(days=rng.randrange(2400)))
        orders["o_orderpriority"].append(f"{rng.randint(1, 5)}-PRIO")
    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    texts: list[str] = []
    for d in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:
            text = rng.choice(texts)
        elif texts and r < 0.15:
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 80)))
        texts.append(text)
        docs["doc_id"].append(d)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(["en", "de", "es", "zh"]))
        docs["source"].append(f"src{rng.randrange(4)}")
        docs["n_chars"].append(len(text))
    ts = pa.timestamp("us")
    return {
        "events": pa.table({
            "event_id": pa.array(ev["event_id"], pa.int64()),
            "ts": pa.array(ev["ts"], ts),
            "user_id": pa.array(ev["user_id"], pa.int64()),
            "event_type": pa.array(ev["event_type"], pa.string()),
            "value": pa.array(ev["value"], pa.float64()),
            "props": pa.array(ev["props"], pa.string()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(cust["c_custkey"], pa.int64()),
            "c_name": pa.array(cust["c_name"], pa.string()),
            "c_nationkey": pa.array(cust["c_nationkey"], pa.int32()),
            "c_acctbal": pa.array(cust["c_acctbal"], pa.float64()),
            "c_mktsegment": pa.array(cust["c_mktsegment"], pa.string()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(orders["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(orders["o_custkey"], pa.int64()),
            "o_orderstatus": pa.array(orders["o_orderstatus"], pa.string()),
            "o_totalprice": pa.array(orders["o_totalprice"], pa.float64()),
            "o_orderdate": pa.array(orders["o_orderdate"], ts),
            "o_orderpriority": pa.array(orders["o_orderpriority"], pa.string()),
        }),
        "documents": pa.table({
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "text": pa.array(docs["text"], pa.string()),
            "lang": pa.array(docs["lang"], pa.string()),
            "source": pa.array(docs["source"], pa.string()),
            "n_chars": pa.array(docs["n_chars"], pa.int64()),
        }),
    }


def write_registry_tables(out_dir: str, tables: dict) -> list[str]:
    """One parquet file per table, ``<out_dir>/<name>.parquet``, the layout
    the registry's ``sf_dir`` argument expects."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
