"""The benchmark's workloads and their output checks.

Each workload is a closed loop of units run back to back by one
client. A unit is one wrangling task (a ``run_wrangling_task`` call
plus collecting its metrics, as ``cli.main`` does per task) or one
curation round. The list of units is a pure function of the seed and
the run length, so every count repeats exactly for a seed.

Labels are computed relationally with the formulas of the DuckDB
oracles in ``queries/wrangler.py``; the golden functions the scripted
client finally returns must reproduce them on every row.
"""

from __future__ import annotations

import math
import random
import re
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from efficient_llm_data_wrangling_spark.operators import dedup, similarity, text
from efficient_llm_data_wrangling_spark.operators.serialize import serialize_keyed
from efficient_llm_data_wrangling_spark.plans.cache import FunctionCache
from efficient_llm_data_wrangling_spark.plans.compiler import SemanticCompiler
from efficient_llm_data_wrangling_spark.sources.catalog import load_table
from efficient_llm_data_wrangling_spark.wrangler import WranglerTask, run_wrangling_task

from perfbench import data

TASK_TYPES = (
    "data_transformation",
    "regex_transformation",
    "data_imputation",
    "entity_matching",
    "error_detection_spelling",
)

#: Table content is fixed (like the sf0.1 test data); the run seed
#: picks slices, task order, trial seeds and query vectors.
DATA_SEED = 42


@dataclass(frozen=True)
class TaskSpec:
    task: str
    train_offset: int  # first key of the train slice, in the train table
    test_offset: int  # first key of the test slice (slices wrap around)
    seed: int  # WranglerTask.seed: the trial seed schedule


@dataclass
class UnitResult:
    rows: int  # test rows scored, or documents curated
    output: object  # what ``Workload.check`` compares after the run


# ---------------------------------------------------------------------------
# Labeled frames: (key, text, label_str), labels as in queries/wrangler.py
# ---------------------------------------------------------------------------


def labeled_frame(task: str, tables: dict[str, DataFrame], source: str, n: int) -> DataFrame:
    """The labeled frame of ``task`` over table ``source`` of ``n`` rows."""
    t = tables[source]
    if task in ("data_transformation", "regex_transformation"):
        fmt = "MMM dd, yyyy" if task == "data_transformation" else "MM/dd/yyyy"
        return t.select(
            F.col("o_orderkey").alias("key"),
            F.col("o_orderdate").cast("string").alias("text"),
            F.date_format("o_orderdate", fmt).alias("label_str"),
        )
    if task == "data_imputation":
        serialized = serialize_keyed(
            [("o_orderstatus", F.col("o_orderstatus")), ("o_orderpriority", F.col("o_orderpriority"))]
        )
        label = F.expr(
            "CASE WHEN contains(o_orderpriority, '-') "
            "THEN trim(substr(o_orderpriority, instr(o_orderpriority, '-') + 1)) "
            "ELSE trim(o_orderpriority) END"
        )
        return t.select(F.col("o_orderkey").alias("key"), serialized.alias("text"), label.alias("label_str"))
    if task == "entity_matching":
        a = t.select(F.col("doc_id").alias("key"), F.col("text").alias("text_a"))
        b = t.select(F.col("doc_id").alias("right_id"), F.col("text").alias("text_b"))
        # the oracle's pairing, wrapped at n so every document pairs
        pair_key = F.when(F.col("key") % 10 == 0, F.col("key")).otherwise((F.col("key") + 1) % n)
        ta = F.array_distinct(F.split("text_a", " "))
        tb = F.array_distinct(F.split("text_b", " "))
        jaccard = F.size(F.array_intersect(ta, tb)).cast("double") / F.size(
            F.array_distinct(F.concat(ta, tb))
        )
        return a.join(b, pair_key == F.col("right_id")).select(
            "key",
            F.concat_ws(" @@ ", "text_a", "text_b").alias("text"),
            F.when(jaccard >= 0.5, "Yes").otherwise("No").alias("label_str"),
        )
    if task == "error_detection_spelling":
        value = (
            F.when(F.col("s_suppkey") % 3 == 0, F.lower(F.element_at(F.split("s_name", "#"), 1)))
            .otherwise(F.col("s_name"))
        )
        return t.select(F.col("s_suppkey").alias("key"), value.alias("text")).withColumn(
            "label_str", F.when(F.col("text").rlike("[0-9]"), "yes").otherwise("no")
        )
    raise KeyError(task)


def key_window(frame: DataFrame, n: int, offset: int, rows: int) -> DataFrame:
    """Rows whose key is among the ``rows`` keys from ``offset``,
    wrapping at ``n``."""
    return frame.filter(F.pmod(F.col("key") - F.lit(offset), F.lit(n)) < rows)


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    """Common shape: ``stage`` writes and loads the inputs, ``warm_up``
    runs one untimed unit, ``units`` lists the timed units,
    ``run_unit`` runs one and ``check`` compares its output after the
    timed loop, so checking costs no measured time."""

    tables: tuple[str, ...] = ()
    #: Approximate seconds per unit on a 4-core host at local[2]; sets
    #: how many units a run of a given length holds.
    unit_s = 1.0
    min_units = 3
    #: Name of the span around each timed unit.
    unit_span = "unit"

    def __init__(self, spark: SparkSession, data_dir: str, seed: int, seconds: int, scale: float,
                 client, cache_path: str):
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.scale = scale
        self.client = client
        self.cache_path = cache_path
        self.n_units = max(self.min_units, round(seconds / self.unit_s))
        self.rng = random.Random(seed)

    @staticmethod
    def span(name: str):
        """Span context around a layer call; a traced run replaces it."""
        return nullcontext({})

    def _load(self, subdir: str, seed: int, scale: float, max_rows: int | None = None):
        path = f"{self.data_dir}/{subdir}"
        rows = data.write_tables(path, list(self.tables), seed, scale, max_rows)
        return rows, {name: load_table(self.spark, path, name) for name in self.tables}

    def stage(self) -> None:
        self.rows, self.frames = self._load("full", DATA_SEED, self.scale)


class WrangleTasks(Workload):
    """Small tasks: the five golden task types in a seeded order over
    seeded slices, one task in four repeating an earlier task's intent
    (a function-cache hit). Tasks train on a small separate
    table, as the CLI reads train and test splits from separate files,
    and are scored on a slice of the full table. One compiler with one
    file-backed function cache serves the timed tasks."""

    tables = ("orders", "supplier", "documents")
    train_rows = 200
    test_rows = 1_000
    #: Rows of each train table.
    TRAIN_TABLE_ROWS = 2_000
    unit_s = 4.5
    min_units = 3
    unit_span = "wrangler.task"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.compiler = SemanticCompiler(client=self.client, cache=FunctionCache(self.cache_path))

    def stage(self) -> None:
        super().stage()
        self.train_rows_of, self.train_frames = self._load(
            "train", DATA_SEED + 1, self.scale, self.TRAIN_TABLE_ROWS
        )

    @staticmethod
    def source_of(task: str) -> str:
        return {"entity_matching": "documents", "error_detection_spelling": "supplier"}.get(task, "orders")

    def _spec(self, task: str) -> TaskSpec:
        source = self.source_of(task)
        return TaskSpec(
            task,
            self.rng.randrange(self.train_rows_of[source]),
            self.rng.randrange(self.rows[source]),
            self.rng.randrange(1 << 20),
        )

    def units(self) -> list[TaskSpec]:
        order = list(TASK_TYPES)
        self.rng.shuffle(order)
        specs: list[TaskSpec] = []
        for i in range(self.n_units):
            if i % 4 == 2:  # the 3rd, 7th, ... task repeats an earlier one
                specs.append(self.rng.choice(specs))
            else:  # (i + 1) // 4 repeats came before this task
                specs.append(self._spec(order[(i - (i + 1) // 4) % len(order)]))
        return specs

    def run_task(self, spec: TaskSpec, compiler: SemanticCompiler) -> UnitResult:
        source = self.source_of(spec.task)
        n_train, n = self.train_rows_of[source], self.rows[source]
        train_rows, test_rows = min(self.train_rows, n_train // 2), min(self.test_rows, n)
        train = key_window(
            labeled_frame(spec.task, self.train_frames, source, n_train), n_train, spec.train_offset, train_rows
        )
        test = key_window(labeled_frame(spec.task, self.frames, source, n), n, spec.test_offset, test_rows)
        result = run_wrangling_task(WranglerTask(task=spec.task, train=train, test=test, seed=spec.seed), compiler)
        with self.span("functions.apply_score"):
            row = result.metrics.collect()[0].asDict()
        return UnitResult(rows=row["total"], output=(row, test_rows))

    def warm_up(self) -> UnitResult:
        """One task on its own in-memory cache, so the timed run starts
        with an empty function cache."""
        compiler = SemanticCompiler(client=self.client, cache=FunctionCache())
        return self.run_task(self._spec("data_transformation"), compiler)

    def run_unit(self, spec: TaskSpec) -> UnitResult:
        return self.run_task(spec, self.compiler)

    def check(self, output) -> tuple[int, int]:
        """Every test row scored, every prediction correct."""
        row, expected_rows = output
        ok = row["total"] == expected_rows and row["crc"] == row["total"] and row["acc"] == 1.0
        return 1, int(not ok)


# ---------------------------------------------------------------------------
# Corpus curation
# ---------------------------------------------------------------------------

TOP_K = 10
QUERIES_PER_ROUND = 4
NEAR_DUP_THRESHOLD = 0.8


def shingle_set(doc: str, width: int = 3) -> frozenset[str]:
    """Distinct word 3-shingles, as ``operators.dedup.shingles`` defines
    them (a document shorter than the width is one shingle)."""
    toks = [t for t in doc.split(" ") if t]
    return frozenset(" ".join(toks[i : i + width]) for i in range(max(len(toks) - width + 1, 1)))


def exact_near_dup_pairs(texts: list[str], threshold: float) -> set[tuple[int, int]]:
    """Every pair with shingle Jaccard ≥ threshold. Pairs sharing no
    shingle have Jaccard 0, so enumerating pairs through an inverted
    index of shingles is exhaustive."""
    sets = [shingle_set(t) for t in texts]
    postings: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for sh in s:
            postings.setdefault(sh, []).append(i)
    cands = {(a, b) for ids in postings.values() for j, a in enumerate(ids) for b in ids[j + 1 :]}
    return {(a, b) for a, b in cands if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold}


_PUNCT = re.compile(r"[!-/:-@\[-`{-~]")


def quality_points(doc: str) -> int:
    """3 × ``with_quality_score`` of one document: token count in
    [10, 1000], punctuation ratio ≤ 0.2, at least one stopword."""
    toks = [t for t in re.split(r"\s+", doc) if t]
    punct_ratio = len(_PUNCT.findall(doc)) / len(doc) if doc else 0.0
    has_stop = bool({t.lower() for t in toks} & set(text.STOPWORDS))
    return int(10 <= len(toks) <= 1000) + int(punct_ratio <= 0.2) + int(has_stop)


def cosine_top_k(vectors: list[list[float]], query: list[float], k: int) -> list[int]:
    """Exact top-k ids by cosine, accumulating left to right in double
    precision as ``operators.dedup.cosine_sim`` does; ties by id."""

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    qn = math.sqrt(dot(query, query))
    scores = [dot(v, query) / (math.sqrt(dot(v, v)) * qn) for v in vectors]
    return sorted(range(len(vectors)), key=lambda i: (-scores[i], i))[:k]


class CurateCorpus(Workload):
    """Curation rounds over documents and embeddings: exact dedup,
    MinHash-LSH near-dup pairs, quality scoring, and brute-force top-k
    for seeded query vectors. JVM codegen work only: no Python UDF and
    no LLM."""

    tables = ("documents", "embeddings")
    unit_s = 5.0
    min_units = 2
    unit_span = "curate.round"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._expected = None

    def _queries(self, rng: random.Random) -> list[list[float]]:
        return [[rng.gauss(0.0, 1.0) for _ in range(data.EMBED_DIM)] for _ in range(QUERIES_PER_ROUND)]

    def units(self) -> list[list[list[float]]]:
        return [self._queries(self.rng) for _ in range(self.n_units)]

    def warm_up(self) -> UnitResult:
        return self.run_unit(self._queries(random.Random(-1 - self.seed)))

    def run_unit(self, queries: list[list[float]]) -> UnitResult:
        docs, emb = self.frames["documents"], self.frames["embeddings"]
        with self.span("operators.dedup"):
            groups = dedup.exact_dedup_groups(docs).collect()
            pairs = dedup.near_dup_pairs_minhash(docs, threshold=NEAR_DUP_THRESHOLD).collect()
        with self.span("operators.quality"):
            scored = text.with_quality_score(docs).agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("quality_score") * 3)).alias("points")
            ).collect()[0]
        tops = []
        for q in queries:
            with self.span("operators.similarity"):
                tops.append([r["vec_id"] for r in similarity.brute_force_top_k(emb, q, k=TOP_K).collect()])
        output = {
            "groups": sorted((r["doc_id_kept"], r["dup_count"]) for r in groups),
            "pairs": {(r["left_id"], r["right_id"]) for r in pairs},
            "quality": (scored["n"], int(scored["points"])),
            "tops": list(zip(queries, tops)),
        }
        return UnitResult(rows=self.rows["documents"], output=output)

    def expected(self) -> dict:
        """Independent results, computed once from the parquet files."""
        if self._expected is None:
            import pyarrow.parquet as pq

            texts = pq.read_table(f"{self.data_dir}/full/documents.parquet").column("text").to_pylist()
            groups: dict[str, tuple[int, int]] = {}
            for i, t in enumerate(texts):
                kept, count = groups.get(t, (i, 0))
                groups[t] = (kept, count + 1)
            vectors = pq.read_table(f"{self.data_dir}/full/embeddings.parquet").column("embedding").to_pylist()
            self._expected = {
                "groups": sorted(groups.values()),
                "pairs": exact_near_dup_pairs(texts, NEAR_DUP_THRESHOLD),
                "quality": (len(texts), sum(quality_points(t) for t in texts)),
                "vectors": vectors,
            }
        return self._expected

    def check(self, output) -> tuple[int, int]:
        exp = self.expected()
        failed = sum(output[k] != exp[k] for k in ("groups", "pairs", "quality"))
        failed += sum(top != cosine_top_k(exp["vectors"], q, TOP_K) for q, top in output["tops"])
        return 3 + len(output["tops"]), failed


WORKLOADS = {
    "wrangle_tasks": WrangleTasks,
    "curate_corpus": CurateCorpus,
}
