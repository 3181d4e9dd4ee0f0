"""The benchmark's workloads. Each makes its inputs from a seed without
Spark, runs public functions of ``yago4_spark`` in ``iterate`` (the timed
part) and checks the outputs: once against an independent oracle
(``verify``) and on every later iteration against the verified row
counts and order-insensitive hashes (``fingerprints``).

- ``kg_build``: the user's two commands on one gzip N-Triples dump:
  ``partition`` (``read_ntriples`` → ``StatementsTable.write``) and
  ``build`` (``run_pipeline`` with all families exported).
- ``doc_dedup``: the document front end: the dedup pair operators,
  duplicate clusters, embedding near-dup pairs and entity linking.
"""

from __future__ import annotations

import gzip
import math
import os
from collections import Counter
from decimal import Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive hash): the sum of xxhash64 over rows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def dir_size(path: str) -> tuple[float, int]:
    """(MB, data files) under ``path``, ignoring hidden/marker files."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, name))
                files += 1
    return total / 1e6, files


class Workload:
    name = ""
    input_unit = "rows"
    # report storage the pipeline's persists still hold after an iteration
    holds_pipeline_cache = False

    def __init__(self, seed: int, work: Path) -> None:
        self.seed = seed
        self.work = work
        self.input_rows = 0

    def generate(self) -> None:
        """Seeded inputs, written without Spark (not counted as set-up)."""
        raise NotImplementedError

    def iterate(self, spark, tracer, it_dir: Path):
        raise NotImplementedError

    def fingerprints(self, spark, result) -> dict[str, tuple[int, int]]:
        raise NotImplementedError

    def verify(self, spark, result) -> list[str]:
        raise NotImplementedError

    def trace_extras(self, result, metrics: dict[str, float]) -> None:
        """Per-layer metrics read from files after a traced iteration."""


# ---------------------------------------------------------------------
# knowledge-graph workload
# ---------------------------------------------------------------------

def _nt_escape(text: str) -> str:
    return (text.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r"))


def _java_double(x: float) -> str:
    """A double as Java's ``Double.toString`` (Spark's double → string
    cast) writes it: plain decimal in [1e-3, 1e7), else ``d.dddE±n``."""
    if x == 0 or 1e-3 <= abs(x) < 1e7:
        return repr(float(x))
    sign, digits, exp = Decimal(repr(float(x))).normalize().as_tuple()
    mantissa = str(digits[0]) + "." + ("".join(map(str, digits[1:])) or "0")
    return f"{'-' if sign else ''}{mantissa}E{len(digits) - 1 + exp}"


def nt_lines(statements) -> list[str]:
    """The N-Triples lines of ``fixtures_large`` flat statements, written
    here rather than by the program so the dump is an independent input
    (the round-trip check compares the program's re-serialization with
    these lines)."""
    from yago4_spark import vocab

    prop = {
        "wdt": "http://www.wikidata.org/prop/direct/P",
        "p": "http://www.wikidata.org/prop/P",
        "ps": "http://www.wikidata.org/prop/statement/P",
        "psv": "http://www.wikidata.org/prop/statement/value/P",
        "pq": "http://www.wikidata.org/prop/qualifier/P",
        "pqv": "http://www.wikidata.org/prop/qualifier/value/P",
    }
    iri = {
        "rdf:type": vocab.RDF_TYPE,
        "skos:prefLabel": vocab.SKOS_PREF_LABEL,
        "skos:altLabel": vocab.SKOS_ALT_LABEL,
        "schema:description": vocab.SCHEMA_DESCRIPTION,
        "schema:about": vocab.SCHEMA_ABOUT,
        "wikibase:timeValue": vocab.WIKIBASE_TIME_VALUE,
        "wikibase:timePrecision": vocab.WIKIBASE_TIME_PRECISION,
        "wikibase:timeCalendarModel": vocab.WIKIBASE_TIME_CALENDAR_MODEL,
        "wikibase:geoLatitude": vocab.WIKIBASE_GEO_LATITUDE,
        "wikibase:geoLongitude": vocab.WIKIBASE_GEO_LONGITUDE,
        "wikibase:geoPrecision": vocab.WIKIBASE_GEO_PRECISION,
        "wikibase:geoGlobe": vocab.WIKIBASE_GEO_GLOBE,
        "wikibase:quantityAmount": vocab.WIKIBASE_QUANTITY_AMOUNT,
        "wikibase:quantityUnit": vocab.WIKIBASE_QUANTITY_UNIT,
        "wikibase:quantityLowerBound": vocab.WIKIBASE_QUANTITY_LOWER_BOUND,
        "wikibase:quantityUpperBound": vocab.WIKIBASE_QUANTITY_UPPER_BOUND,
    }

    def term(kind, text, num, lang=None, dbl=None) -> str:
        if kind == "item":
            return f"<http://www.wikidata.org/entity/Q{int(num)}>"
        if kind == "iri":
            return f"<{text}>"
        if kind == "blank":
            return f"_:_:{text}"   # the fixture's blank text carries "_:"
        if kind == "integer":
            return f'"{int(num)}"^^<{vocab.XSD_INTEGER}>'
        if kind == "double":
            return f'"{_java_double(dbl)}"^^<{vocab.XSD_DOUBLE}>'
        if kind == "dateTime":
            return f'"{text}"^^<{vocab.XSD_DATE_TIME}>'
        if kind == "decimal":
            return f'"{_nt_escape(text)}"^^<{vocab.XSD_DECIMAL}>'
        if kind == "langString":
            return f'"{_nt_escape(text)}"@{lang}'
        if kind == "string":
            return f'"{_nt_escape(text)}"'
        raise ValueError(f"no N-Triples form for term kind {kind!r}")

    out = []
    for r in statements.itertuples(index=False):
        short, _, local = r.pk.partition(":")
        if short in prop and local[:1] == "P" and local[1:].isdigit():
            pred = f"<{prop[short]}{int(local[1:])}>"
        else:
            pred = f"<{iri[r.pk]}>"
        dbl = None if r.o_dbl is None or math.isnan(r.o_dbl) else r.o_dbl
        out.append(" ".join((term(r.s_kind, r.s_text, r.s_num), pred,
                             term(r.o_kind, r.o_text, r.o_num, r.o_lang,
                                  dbl), ".")) + "\n")
    return out


class KgBuild(Workload):
    """``partition`` then ``build``: one gzip N-Triples dump of a seeded
    ``fixtures_large`` slice is parsed and written as the statements
    store, and ``run_pipeline`` builds every stage from it into a fresh
    work dir and exports all N-Triples families."""

    name = "kg_build"
    input_unit = "statements"
    holds_pipeline_cache = True
    n_entities = 2_000
    n_classes = 60

    def generate(self) -> None:
        from yago4_spark.fixtures_large import generate

        self.gt = generate(n_entities=self.n_entities,
                           n_classes=self.n_classes, seed=self.seed)
        lines = nt_lines(self.gt.statements)
        # one unsplittable gzip stream, the shape of a Wikidata dump
        self.dump = str(self.work / "dump.nt.gz")
        with gzip.open(self.dump, "wt", encoding="utf-8",
                       compresslevel=1) as out:
            out.writelines(lines)
        self.input_rows = len(lines)

    def iterate(self, spark, tracer, it_dir: Path):
        from yago4_spark.pipeline import run_pipeline
        from yago4_spark.sources.ntriples import read_ntriples
        from yago4_spark.sources.statements import StatementsTable

        store = str(it_dir / "statements")
        self.export_dir = str(it_dir / "nt")
        with tracer.span("sources.ntriples.ingest"):
            parsed = read_ntriples(spark, self.dump)
            with tracer.span("sources.statements"):
                StatementsTable.write(parsed, store)
        with tracer.span("pipeline"):
            res = run_pipeline(spark, store, str(it_dir / "stages"),
                               self.gt.schema, export_nt_dir=self.export_dir)
        return {"store": store, "res": res}

    def fingerprints(self, spark, result):
        cat = result["res"].catalog
        out = {name: fingerprint(cat.read(name))
               for name in sorted(os.listdir(cat.root)) if cat.exists(name)}
        out["statements"] = fingerprint(spark.read.parquet(result["store"]))
        out["export"] = fingerprint(spark.read.text(self.export_dir))
        return out

    def verify(self, spark, result) -> list[str]:
        import differential_report as dr

        from yago4_spark.fixtures_large import compute_oracle
        from yago4_spark.sources.ntriples import triples_to_nt_lines

        def pr_local(got_keys, expected):
            # pr_spark's precision/recall as a driver-side set compare:
            # the families are a few thousand rows here, and one collect
            # per family costs a third of pr_spark's jobs
            got = {r["key"] for r in got_keys.collect()}
            want = {dr._key(k) for k in expected}
            tp = len(got & want)
            return (tp / len(got) if got else 1.0,
                    tp / len(want) if want else 1.0, len(got))

        pr_spark, dr.pr_spark = dr.pr_spark, pr_local
        try:
            rows = dr.collect_family_rows(result["res"],
                                          compute_oracle(self.gt))
        finally:
            dr.pr_spark = pr_spark
        bad = [f"{fam}: P={p} R={r} rows={n}"
               for fam, p, r, n in rows if (p, r) != (1.0, 1.0)]
        # re-serializing the ingested store must give back the dump's
        # multiset of lines
        got = fingerprint(triples_to_nt_lines(spark.read.parquet(
            result["store"]).select("subject", "predicate", "object")))
        want = fingerprint(spark.read.text(self.dump))
        if got != want or want[0] != self.input_rows:
            bad.append(f"statements after ingest: (rows, hash) {got}, dump "
                       f"lines {want}, source rows {self.input_rows}")
        return bad

    def trace_extras(self, result, metrics) -> None:
        metrics["sources.ntriples.export_mb"] = dir_size(self.export_dir)[0]
        mb, files = dir_size(result["store"])
        metrics["sources.statements.output_mb"] = mb
        metrics["sources.statements.files"] = files


# ---------------------------------------------------------------------
# document workload
# ---------------------------------------------------------------------

VOCAB = (
    "spark query data hash join window merge batch a the of big small "
    "fast slow row column table key value group sort scan filter agg "
    "line part order customer vector stream item node edge graph index "
    "page file plan"
).split()
COPIES = 3


def near_dup_documents(rng: np.random.Generator, n_base: int) -> pa.Table:
    """``n_base`` random documents, each in ``COPIES`` versions: copy 0
    verbatim, later copies with one seeded edit (append, substitute or
    truncate), so cross-copy pairs straddle the Jaccard and Hamming
    thresholds."""
    ids, texts = [], []
    for i in range(n_base):
        toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB),
                                               int(rng.integers(12, 60)))]
        for copy in range(COPIES):
            t = list(toks)
            if copy:
                edit = int(rng.integers(0, 3))
                if edit == 0:
                    t.append(VOCAB[int(rng.integers(0, len(VOCAB)))])
                elif edit == 1:
                    t[int(rng.integers(0, len(t)))] = \
                        VOCAB[int(rng.integers(0, len(VOCAB)))]
                else:
                    t = t[:len(t) - int(rng.integers(1, 4))]
            ids.append(i * COPIES + copy)
            texts.append(" ".join(t))
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


def near_dup_embeddings(rng: np.random.Generator, n_base: int,
                        dim: int = 64, clusters: int = 16) -> pa.Table:
    """Clustered vectors in ``COPIES`` versions; copy k nudges the first
    component by k·1e-4 (cosine to the original > 0.9999, while distinct
    base vectors stay below 0.99)."""
    centers = rng.normal(size=(clusters, dim))
    base = centers[rng.integers(0, clusters, n_base)] + \
        rng.normal(scale=0.3, size=(n_base, dim))
    vecs = np.repeat(base, COPIES, axis=0)
    vecs[:, 0] += np.tile(np.arange(COPIES) * 1e-4, n_base)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })


def brute_force_pairs(vecs: np.ndarray, threshold: float,
                      block: int = 1024) -> dict[tuple[int, int], float]:
    """All (i, j), i < j, with cosine >= threshold, by blocked matmul."""
    v = vecs.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for lo in range(0, len(unit), block):
        sims = unit[lo:lo + block] @ unit.T
        for a, b in zip(*np.nonzero(sims >= threshold - 1e-6)):
            i, j = lo + int(a), int(b)
            if i < j:
                out[(i, j)] = float(sims[a, b])
    return out


def _param_twin(sql: str, replacements) -> str:
    """An oracle SQL twin with its operator parameters changed; every
    replaced text must occur exactly once."""
    for old, new in replacements:
        if sql.count(old) != 1:
            raise ValueError(f"oracle twin no longer contains {old!r}")
        sql = sql.replace(old, new)
    return sql


class DocDedup(Workload):
    """Document operators over a seeded near-dup corpus at ``bench.py``'s
    pairs_10x parameters. Each operator call and the collect of its
    output (at most a few thousand rows) form one span."""

    name = "doc_dedup"
    input_unit = "documents"
    n_base = 100
    EMB_THRESHOLD = 0.999

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.data = str(self.work / "data")
        os.makedirs(self.data)
        docs = near_dup_documents(rng, self.n_base)
        pq.write_table(docs, f"{self.data}/documents.parquet")
        self.emb = near_dup_embeddings(rng, self.n_base)
        pq.write_table(self.emb, f"{self.data}/embeddings.parquet")
        # the pair operators see each document twice (exact dups + near
        # dups), as the __spark_entry__ dedup queries do
        self.input_rows = 2 * docs.num_rows

    def iterate(self, spark, tracer, it_dir: Path):
        import __spark_entry__ as entry
        from yago4_spark.operators import dedup
        from yago4_spark.operators.cache import release_all
        from yago4_spark.operators.linking import (candidate_mentions,
                                                   link_entities)
        from yago4_spark.operators.similarity import embedding_near_dup_pairs

        docs = entry._doubled_docs(spark, self.data)
        builds = {
            "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
                docs, num_hashes=16, bands=4).persist(),
            "dup_clusters": lambda: dedup.dup_clusters(minhash),
            "simhash_near_dup_pairs": lambda: dedup.simhash_near_dup_pairs(
                docs, bits=64, n_bands=4, max_hamming=3),
            "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
                docs, threshold=0.8),
            "embedding_near_dup_pairs": lambda: embedding_near_dup_pairs(
                spark.read.parquet(f"{self.data}/embeddings.parquet"),
                threshold=self.EMB_THRESHOLD, n_cells=8),
            "linked_mentions": lambda: link_entities(candidate_mentions(
                entry._text_spans(spark, self.data), entry._dict_df(spark),
                max_ngram=2)).select(
                "doc_id", "token_start", "ngram_len", "char_start",
                "char_end", "surface", "qid",
                F.round("score", 6).alias("score")),
        }
        rows: dict[str, list] = {}
        minhash = None
        try:
            for name, build in builds.items():
                # the span covers the operator call too: some operators
                # run jobs eagerly (k-means centroids, the cluster fixpoint)
                with tracer.span(_span_name(name)) as span:
                    df = build()
                    rows[name] = df.collect()
                span.attrs["rows_out"] = len(rows[name])
                if name == "minhash_lsh_pairs":
                    minhash = df
        finally:
            if minhash is not None:
                minhash.unpersist()
            release_all()
        return rows

    def fingerprints(self, spark, rows):
        return {name: (len(r), hash(frozenset(_rows(r).items())))
                for name, r in rows.items()}

    def verify(self, spark, rows) -> list[str]:
        """Compares the iteration's collected outputs with independent
        oracles."""
        import duckdb

        import __spark_entry__ as entry

        twins = entry.oracle_sql()
        mh = [("generate_series(0, 7)", "generate_series(0, 15)"),
              ("unnest([0, 1])", "unnest([0, 1, 2, 3])")]
        twin_sql = {
            "minhash_lsh_pairs": _param_twin(twins["dedup_minhash_lsh"], mh),
            "dup_clusters": _param_twin(twins["dedup_clusters"], mh),
            "simhash_near_dup_pairs": twins["dedup_simhash_pairs64"],
            "ngram_jaccard_pairs": twins["dedup_ngram_jaccard"],
            "linked_mentions": twins["linked_mentions"],
        }
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.work}/duckdb'")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.data}/documents.parquet')")
        bad = []
        for name, sql in twin_sql.items():
            rel = con.sql(sql)
            want = _rows(rel.fetchall())
            got = _rows([tuple(r[c] for c in rel.columns)
                         for r in rows[name]])
            if got != want or not want:
                bad.append(f"{name}: {len(rows[name])} rows vs oracle "
                           f"{want.total()}, {(got - want).total()} "
                           f"unexpected, {(want - got).total()} missing")
        con.close()
        vecs = np.stack(self.emb.column("embedding").to_numpy(
            zero_copy_only=False))
        want = brute_force_pairs(vecs, self.EMB_THRESHOLD)
        got = {(r["id_a"], r["id_b"]): r["sim"]
               for r in rows["embedding_near_dup_pairs"]}
        if not want or set(got) != set(want) or any(
                abs(got[k] - want[k]) > 2e-6 for k in got) or \
                len(rows["embedding_near_dup_pairs"]) != len(want):
            bad.append(f"embedding_near_dup_pairs: {len(got)} pairs vs "
                       f"brute force {len(want)}")
        return bad


def _span_name(op: str) -> str:
    if op == "linked_mentions":
        return "operators.linking"
    if op == "embedding_near_dup_pairs":
        return f"operators.similarity.{op}"
    return f"operators.dedup.{op}"


def _rows(rows) -> Counter:
    """Rows as a multiset, floats rounded to the twins' 6 digits."""
    return Counter(tuple(round(v, 6) if isinstance(v, float) else v
                         for v in r) for r in rows)


WORKLOADS = {w.name: w for w in (KgBuild, DocDedup)}
