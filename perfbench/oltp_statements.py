"""``oltp_statements``: a seeded statement mix through ``Engine.execute_sql``
over a managed table ``kv`` preloaded from ``orders`` by CTAS, plus a
schema-on-write document table ``docs``.

Each block of eleven statements holds five point SELECTs on ``kv`` (a third
of them on keys inserted earlier in the run), four single-row INSERTs, one
of UPDATE / DELETE / ``BEGIN; UPDATE; INSERT; COMMIT``, and one document
batch: seeded bluesky-like JSON documents entering through
``Engine.from_df(pandas, "staging")`` plus ``INSERT INTO docs SELECT
doc ->> '...', ..., doc FROM staging`` into a ``CREATE TABLE docs ()``
dynamic table. Later batches add a ``lang`` key (the table grows a column)
and every other batch stores ``seq`` as text (the column's type flips).

The kind counts are fixed, so every seed does the same amount of work. A
Python model of ``kv`` replays the script to give every point SELECT its
expected rows and the final table its expected contents; the document table
is checked against DuckDB's JSON functions over the documents that landed.
"""

from __future__ import annotations

import json
import random
import time
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from harness import Op, compacted_bytes, compare, dir_bytes, percentile

# blocks per --seconds: a block takes about 6 s at the parent commit on 4
# cores, so a 10 s run is 4 blocks (20 SELECTs, 16 INSERTs, 4 others, 4
# document batches); the INSERT p50 needs 5 blocks (20 samples), the p90s
# and the UPDATE/DELETE p50 30 blocks (--seconds 75)
BLOCKS_PER_SECOND = 0.4
MIN_BLOCKS = 4
# one untimed block before timing (JIT drift of single-row INSERT settles
# after about a dozen statements); counted in setup_s
WARMUP_BLOCKS = 1
X_KINDS = ("update", "delete", "txn")
NEW_KEY_BASE = 10_000_000

DOCS_PER_BATCH = 500
COLLECTIONS = (
    "app.bsky.feed.post", "app.bsky.feed.like", "app.bsky.feed.repost",
    "app.bsky.graph.follow", "app.bsky.graph.block",
)
OPERATIONS = ("create", "create", "create", "update", "delete")
KINDS = ("commit", "commit", "commit", "identity", "account")
LANGS = ("en", "ja", "pt", "de")
USERS = 400
T0_US = 1_732_000_000_000_000

# the document table read back through the engine (JSON paths and a ::?
# variant-select) and the same question over the raw documents in DuckDB
DOCS_QUERY = (
    "SELECT doc -> 'commit' ->> 'collection' AS collection, count(*) AS cnt, "
    "count(DISTINCT did) AS users, count(lang) AS with_lang, "
    "sum(seq ::? bigint) AS seq_sum, count(seq ::? bigint) AS numeric_seq, "
    "max(time_us) - min(time_us) AS span FROM docs GROUP BY 1"
)
DOCS_ORACLE = (
    "SELECT json_extract_string(doc, '$.commit.collection') AS collection, "
    "count(*) AS cnt, count(DISTINCT json_extract_string(doc, '$.did')) AS users, "
    "count(json_extract_string(doc, '$.lang')) AS with_lang, "
    "sum(TRY_CAST(json_extract_string(doc, '$.seq') AS BIGINT)) AS seq_sum, "
    "count(TRY_CAST(json_extract_string(doc, '$.seq') AS BIGINT)) AS numeric_seq, "
    "max(CAST(json_extract_string(doc, '$.time_us') AS BIGINT)) - "
    "min(CAST(json_extract_string(doc, '$.time_us') AS BIGINT)) AS span "
    "FROM docs GROUP BY 1"
)


def make_docs(rng: random.Random, with_lang: bool, seq_as_text: bool) -> list[str]:
    docs = []
    for _ in range(DOCS_PER_BATCH):
        kind = rng.choice(KINDS)
        seq = rng.randrange(1_000_000)
        doc = {
            "did": f"did:plc:{rng.randrange(USERS):05d}",
            "time_us": T0_US + rng.randrange(86_400_000_000),
            "kind": kind,
            "seq": f"s{seq}" if seq_as_text else seq,
        }
        if kind == "commit":
            doc["commit"] = {
                "rev": f"{rng.getrandbits(40):010x}",
                "operation": rng.choice(OPERATIONS),
                "collection": rng.choice(COLLECTIONS),
                "record": {"text": f"post {rng.randrange(10**6)}", "langs": ["en"]},
            }
        if with_lang:
            doc["lang"] = rng.choice(LANGS)
        docs.append(json.dumps(doc))
    return docs


def docs_insert_sql(with_lang: bool, seq_as_text: bool) -> str:
    seq = "doc ->> 'seq'" if seq_as_text else "CAST(doc ->> 'seq' AS BIGINT)"
    lang = ", doc ->> 'lang' AS lang" if with_lang else ""
    return (
        "INSERT INTO docs SELECT doc ->> 'did' AS did, "
        "CAST(doc ->> 'time_us' AS BIGINT) AS time_us, doc ->> 'kind' AS kind, "
        f"{seq} AS seq{lang}, doc FROM staging"
    )


class OltpStatements:
    name = "oltp_statements"

    def __init__(self, ctx):
        self.ctx = ctx
        self.engine = None
        self.model: dict[int, tuple] = {}
        self.docs: list[str] = []
        self.docs_insert_s: list[float] = []

    # -- script -----------------------------------------------------------------
    def _generate(self) -> list[tuple]:
        """[(kind, payload, expected rows, rows changed)] for the warm-up
        and timed blocks; mutates the model exactly as the statements will
        mutate ``kv``. The payload is SQL, or (documents, flags) for a
        document batch."""
        rng = random.Random(self.ctx.seed)
        model = self.model
        originals = sorted(model)
        inserted: list[int] = []
        next_key = NEW_KEY_BASE
        blocks = WARMUP_BLOCKS + max(
            MIN_BLOCKS, round(self.ctx.seconds * BLOCKS_PER_SECOND)
        )
        out = []

        def price() -> float:
            return float(f"{rng.uniform(1, 500_000):.2f}")

        def new_row():
            nonlocal next_key
            next_key += 1
            return next_key, rng.randrange(1, 15_000), price(), rng.choice("OFP")

        def values(row) -> str:
            return f"({row[0]}, {row[1]}, {row[2]:.2f}, '{row[3]}')"

        for b in range(blocks):
            kinds = ["select"] * 5 + ["insert"] * 4 + [X_KINDS[b % 3], "docs"]
            rng.shuffle(kinds)
            for kind in kinds:
                if kind == "select":
                    if inserted and rng.random() < 1 / 3:
                        k = rng.choice(inserted)
                    else:
                        k = rng.choice(originals)
                    sql = f"SELECT k, c, v, s FROM kv WHERE k = {k}"
                    expected = [(k, *model[k])] if k in model else []
                    out.append((kind, sql, expected, 0))
                elif kind == "insert":
                    row = new_row()
                    model[row[0]] = row[1:]
                    inserted.append(row[0])
                    out.append((kind, f"INSERT INTO kv VALUES {values(row)}", None, 1))
                elif kind == "update":
                    k, v = rng.choice(originals), price()
                    if k in model:
                        model[k] = (model[k][0], v, "U")
                    out.append((kind, f"UPDATE kv SET v = {v:.2f}, s = 'U' WHERE k = {k}", None, 1))
                elif kind == "delete":
                    k = rng.choice(inserted or originals)
                    model.pop(k, None)
                    out.append((kind, f"DELETE FROM kv WHERE k = {k}", None, 1))
                elif kind == "txn":
                    k, v, row = rng.choice(originals), price(), new_row()
                    if k in model:
                        model[k] = (model[k][0], v, "T")
                    model[row[0]] = row[1:]
                    inserted.append(row[0])
                    out.append((kind, (
                        f"BEGIN; UPDATE kv SET v = {v:.2f}, s = 'T' WHERE k = {k}; "
                        f"INSERT INTO kv VALUES {values(row)}; COMMIT"
                    ), None, 2))
                else:
                    flags = (b >= blocks // 2, b % 2 == 1)
                    out.append((kind, (make_docs(rng, *flags), flags), None,
                                DOCS_PER_BATCH))
        return out

    # -- phases -------------------------------------------------------------------
    def setup(self) -> None:
        from otterbrix_spark.engine import Engine
        from otterbrix_spark.sources.registry import load_table

        ctx = self.ctx
        orders = pq.read_table(
            f"{ctx.corpus}/orders.parquet",
            columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
        ).to_pydict()
        self.model = {
            k: (c, v, s) for k, c, v, s in zip(
                orders["o_orderkey"], orders["o_custkey"],
                orders["o_totalprice"], orders["o_orderstatus"],
            )
        }
        eng = self.engine = Engine(ctx.spark, table_dir=str(ctx.run_dir / "tables"))
        load_table(ctx.spark, ctx.corpus, "orders").createOrReplaceTempView("orders")
        eng.execute_sql(
            "CREATE TABLE kv AS SELECT o_orderkey AS k, o_custkey AS c, "
            "o_totalprice AS v, o_orderstatus AS s FROM orders"
        )
        eng.execute_sql("CREATE TABLE docs ()")
        self.kv_dir = Path(eng.catalog.tables["kv"].path)
        self.docs_dir = Path(eng.catalog.dynamic["docs"].path)
        statements = self._generate()
        warm = WARMUP_BLOCKS * 11
        for kind, payload, expected, _ in statements[:warm]:
            self._runner(kind, payload, expected)()
        self.docs_insert_s.clear()
        self.statements = statements[warm:]

    def script(self) -> list[Op]:
        ops = []
        for i, (kind, payload, expected, changed) in enumerate(self.statements):
            select = kind == "select"
            ops.append(Op(
                kind, self._runner(kind, payload, expected),
                unit=i if select else None,
                probe_df=(lambda sql=payload: self.engine.execute_sql(sql).df)
                if select else None,
                table=None if select else
                (self.docs_dir if kind == "docs" else self.kv_dir),
                rows_changed=changed,
            ))
        return ops

    def _runner(self, kind, payload, expected):
        tracer, eng = self.ctx.tracer, self.engine

        def run_docs():
            docs, flags = payload
            eng.from_df(pd.DataFrame({"doc": docs}), "staging")
            t0 = time.perf_counter()
            eng.execute_sql(docs_insert_sql(*flags)).fetchall()
            self.docs_insert_s.append(time.perf_counter() - t0)
            self.docs.extend(docs)

        def run():
            cur = eng.execute_sql(payload)
            if kind != "select":
                return None
            if tracer.enabled:
                with tracer.span("catalyst.plan"):
                    cur.df._jdf.queryExecution().executedPlan()
            with tracer.span("cursor.fetch"):
                rows = cur.fetchall()
            return payload, rows, expected

        return run_docs if kind == "docs" else run

    # -- checks ---------------------------------------------------------------------
    def check(self, results: list) -> list[str]:
        """Every point SELECT against the model at that point of the
        script, the final ``kv`` against the final model, and ``docs``
        against DuckDB over the documents that landed."""
        errors = []
        for res in results:
            if res is None:
                continue
            sql, rows, expected = res
            if sorted(rows) != sorted(expected):
                errors.append(f"{sql}: {rows!r} != {expected!r}")
        final = {
            r[0]: tuple(r[1:])
            for r in self.engine.execute_sql("SELECT k, c, v, s FROM kv").fetchall()
        }
        if final != self.model:
            diff = sorted(set(final.items()) ^ set(self.model.items()))[:3]
            errors.append(f"final kv differs from model, e.g. {diff!r}")
        cur = self.engine.execute_sql(DOCS_QUERY)
        con = duckdb.connect()
        con.execute("CREATE TABLE docs (doc VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?)", [(d,) for d in self.docs])
        rel = con.sql(DOCS_ORACLE)
        err = compare("docs", cur.columns, cur.fetchall(), rel.columns, rel.fetchall())
        con.close()
        if err:
            errors.append(err)
        return errors

    def finish(self, samples: dict) -> dict:
        ctx = self.ctx
        upd = samples.get("update", []) + samples.get("delete", [])
        compact = sum(
            compacted_bytes(self.engine.execute_sql(f"SELECT * FROM {t}").df,
                            ctx.run_dir / f"compact-{t}")
            for t in ("kv", "docs")
        )
        ctx.layer["dml.files_per_table"] = sum(
            1 for f in self.kv_dir.rglob("*.parquet")
        )
        ctx.layer["dynamic.batches"] = sum(
            1 for d in self.docs_dir.iterdir() if d.name.startswith("batch-")
        )
        return {
            "read_p90_s": percentile(samples.get("select", []), 0.9),
            "write_p50_s": percentile(samples.get("insert", []), 0.5),
            "write_p90_s": percentile(samples.get("insert", []), 0.9),
            "update_p50_s": percentile(upd, 0.5),
            "ingest_rows_per_s":
                DOCS_PER_BATCH * len(self.docs_insert_s) / sum(self.docs_insert_s),
            "stored_bytes_ratio":
                (dir_bytes(self.kv_dir) + dir_bytes(self.docs_dir)) / compact,
        }
