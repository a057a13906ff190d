"""Deterministic synthetic inputs for tests and benchmarks.

No external data, no RNG state: everything is a pure function of row
id via xxhash64, so the same (n, e, seed) always yields the same graph
regardless of partitioning or parallelism — required for the bench's
two-parallelism scaling protocol (BASELINE.md) and for exact-match
correctness tests.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# FIXTURES.md F1/F2 — copies of the reference validation graphs
# (DEMO.txt:4-11, DEMODISPARI.txt:4-13); ``write_snap`` writes them
# back out in the reference's file format.
DEMO_EDGES = [(0, 1), (0, 3), (0, 2), (1, 2), (1, 3), (2, 0), (3, 2), (3, 0)]
DEMO_N = 4
DEMODISPARI_EDGES = DEMO_EDGES + [(3, 4), (4, 2)]
DEMODISPARI_N = 5

# Golden PageRank vectors (fp64, d=0.85, eps=1e-4, leak mode; see
# FIXTURES.md — both converge in 12 iterations).
DEMO_GOLDEN = [0.3681495, 0.1418013, 0.2879685, 0.2020806]
DEMODISPARI_GOLDEN = [0.3287118, 0.1231462, 0.2929534, 0.1754708, 0.0797179]


def write_snap(path, pairs, n: int, first_node: int = 0) -> None:
    """Write ``pairs`` over ``n`` vertices as a SNAP text file in the
    reference's layout (FIXTURES.md): ``#`` header lines ending in
    ``Nodes: n Edges: e``, one ``src<TAB>dst`` line per edge with ids
    shifted up by ``first_node``, no trailing newline."""
    lines = ["# Directed graph", f"# Nodes: {n} Edges: {len(pairs)}"]
    lines += [f"{s + first_node}\t{t + first_node}" for s, t in pairs]
    with open(path, "w") as f:
        f.write("\n".join(lines))


def edges_df(spark: SparkSession, pairs) -> DataFrame:
    return spark.createDataFrame(
        [(int(s), int(t)) for s, t in pairs], "src long, dst long"
    )


def synth_edges(
    spark: SparkSession, n: int, e: int, seed: int = 42, zipf: float = 0.7
) -> DataFrame:
    """Power-law-ish directed multigraph, generated fully distributed.

    src skews (few hot sources via pow-transform of a uniform hash),
    dst near-uniform with a hot tail — enough skew to exercise the
    partitioner and AQE without pathological single-key collapse.
    Deterministic in (n, e, seed): both hash draws are pure functions
    of the row id.
    """
    u1 = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1 << 30))) / F.lit(
        float(1 << 30)
    )
    u2 = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(1 << 30))) / F.lit(
        float(1 << 30)
    )
    return spark.range(e).select(
        F.floor(F.pow(u1, F.lit(1.0 + zipf)) * n).cast("long").alias("src"),
        F.floor(F.pow(u2, F.lit(1.0)) * n).cast("long").alias("dst"),
    )


def synth_corpus_arith(
    spark: SparkSession, n_repos: int = 40, files_per_repo: int = 6
) -> DataFrame:
    """Corpus whose reference graph is PURE INTEGER ARITHMETIC.

    Unlike ``synth_corpus`` (sha256-driven, Python-only), every file's
    imports are a closed-form function of (repo i, file f):

        j1 = (i*7  + f*3 + 1) % n_repos
        j2 = (i*13 + f*5 + 2) % n_repos

    so an external SQL engine can regenerate the expected edge set
    without parsing any content — which makes the whole derive stage
    (regex extraction + module resolution + weighting) value-checkable
    end-to-end. Content is built distributed with JVM string
    expressions; it includes noise lines and unresolvable imports
    (``os``, ``java.util``, ``fs``, ``<stdio.h>``) the extractor must
    ignore. Every repo has >=1 non-self OUTGOING reference (so every
    id appears in the edge set): across files f=0 and f=1, j1 moves by
    3 mod n_repos, so the two values are distinct (n_repos > 3) and at
    most one of them can equal i — hence files_per_repo >= 2 suffices.
    """
    if n_repos <= 3 or files_per_repo < 2:
        raise ValueError(
            "need n_repos > 3 and files_per_repo >= 2 (guarantees every "
            "repo at least one non-self outgoing reference)"
        )
    R, FPR = n_repos, files_per_repo
    i = F.expr(f"id DIV {FPR}")
    f_ = F.col("id") % FPR
    j1 = (i * 7 + f_ * 3 + 1) % R
    j2 = (i * 13 + f_ * 5 + 2) % R
    m1 = F.concat(F.lit("org_name_"), j1.cast("string"))
    m2 = F.concat(F.lit("org_name_"), j2.cast("string"))
    lang_idx = (f_ % 4).cast("int")
    langs = ["python", "c", "java", "js"]
    exts = ["py", "c", "java", "js"]
    content = (
        F.when(lang_idx == 0, F.concat(
            F.lit("import os\nimport "), m1,
            F.lit("\nfrom "), m2, F.lit(" import api\nx = 1\n")))
        .when(lang_idx == 1, F.concat(
            F.lit('#include <stdio.h>\n#include "'), m1,
            F.lit('/a.h"\n#include "'), m2, F.lit('/b.h"\nint x;\n')))
        .when(lang_idx == 2, F.concat(
            F.lit("import java.util.List;\nimport "), m1,
            F.lit(".Api;\nimport "), m2, F.lit(".Impl;\nclass X {}\n")))
        .otherwise(F.concat(
            F.lit("const fs = require('fs')\nconst a = require('"), m1,
            F.lit("')\nconst b = require('"), m2, F.lit("')\n")))
    )
    lang = F.element_at(F.array(*[F.lit(x) for x in langs]), lang_idx + 1)
    ext = F.element_at(F.array(*[F.lit(x) for x in exts]), lang_idx + 1)
    return spark.range(R * FPR).select(
        F.concat(F.lit("org/name-"), i.cast("string")).alias("repo"),
        F.concat(F.lit("src/f"), f_.cast("string"), F.lit("."), ext).alias("path"),
        F.concat(F.lit("commit-"), F.col("id").cast("string")).alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
        F.sha2(content, 256).alias("content_sha256"),
    )


def synth_corpus(
    spark: SparkSession,
    n_repos: int = 50,
    files_per_repo: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Iceberg-shaped corpus table (repo, path, commit, lang, content,
    content_sha256) whose import statements encode a deterministic
    repo-reference graph (FIXTURES.md T1).

    Built driver-side (test scale only) so the sha256 invariant column
    can be computed at synthesis time, independent of Spark.
    """
    langs = ["python", "c", "java", "js"]
    exts = {"python": "py", "c": "c", "java": "java", "js": "js"}
    rows = []
    for r in range(n_repos):
        repo = f"org/name-{r}"
        for fidx in range(files_per_repo):
            h = int.from_bytes(
                hashlib.sha256(f"{seed}:{r}:{fidx}".encode()).digest()[:8], "big"
            )
            lang = langs[h % len(langs)]
            # 1-3 referenced repos, deterministic, skewed toward low ids
            n_refs = 1 + (h >> 8) % 3
            targets = [((h >> (16 + 7 * k)) % (r + 1 + k)) % n_repos for k in range(n_refs)]
            lines = [f"// file {fidx} of {repo}"]
            for t in targets:
                mod = f"org_name_{t}"
                if lang == "python":
                    lines.append(f"import {mod}")
                elif lang == "c":
                    lines.append(f'#include "{mod}/api.h"')
                elif lang == "java":
                    lines.append(f"import {mod}.Api;")
                else:
                    lines.append(f"const x{t} = require('{mod}')")
            lines.append(f"function body_{fidx}() {{ return {h % 997}; }}")
            content = "\n".join(lines)
            commit = hashlib.sha256(f"{seed}:commit:{r}:{fidx}".encode()).hexdigest()[:40]
            rows.append(
                (
                    repo,
                    f"src/f{fidx}.{exts[lang]}",
                    commit,
                    lang,
                    content,
                    hashlib.sha256(content.encode()).hexdigest(),
                )
            )
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )
