"""Shared fixtures: sonnets golden corpus, a generated corpus that needs no
external data, SparkSession, transcript tables; plus a terminal summary of
skip reasons."""

from __future__ import annotations

import collections
import datetime
import importlib.util
import os
import random

import pytest

SONNETS_PATH = "/root/reference/samples/inverted_index/sonnets.py"


def load_sonnets() -> list[str] | None:
    """Load the 154-sonnet golden corpus from the read-only reference repo
    (public-domain data; loaded at test time, never vendored)."""
    if not os.path.exists(SONNETS_PATH):
        return None
    spec = importlib.util.spec_from_file_location("_ref_sonnets", SONNETS_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return list(mod.sonnets)


@pytest.fixture(scope="session")
def sonnets() -> list[str]:
    corpus = load_sonnets()
    if corpus is None:
        pytest.skip("reference sonnets corpus not available")
    return corpus


# Zipf rank order: the function words lead, so they are the hot terms
GENERATED_WORDS = (
    "the and of to a in that it with for as was on be at by this from or but "
    "river stone ember harbor lantern meadow signal copper winter garden "
    "thunder velvet candle orbit canyon falcon marble pepper quartz saddle "
    "timber walnut anchor beacon cedar dune glacier hazel island jasper"
).split()


@pytest.fixture(scope="session")
def generated() -> list[str]:
    """Seeded 400-document corpus: 3-60 Zipf-drawn words per document,
    "turn" 1-3 times in every document (df == n_docs), and the rare marker
    "zzrare" in every 97th document starting at doc 3."""
    rng = random.Random(20261017)
    weights = [1.0 / (r + 1) for r in range(len(GENERATED_WORDS))]
    texts = []
    for i in range(400):
        words = rng.choices(GENERATED_WORDS, weights, k=rng.randint(3, 60))
        words += ["turn"] * rng.randint(1, 3)
        if i % 97 == 3:
            words.append("zzrare")
        rng.shuffle(words)
        texts.append(" ".join(words))
    return texts


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    local_dir = "/dev/shm/tsidx-test-local" if os.path.isdir("/dev/shm") else "/tmp"
    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("tsidx-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.local.dir", local_dir)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def sonnets_transcript_rows(sonnets: list[str]):
    """Map the sonnets corpus to the transcripts schema (FIXTURES.md §1a):
    one sonnet -> one turn; groups of 10 turns per conversation; docID order
    (conv_id, turn_idx) == reference insertion order."""
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    return [
        (
            f"sonnet-{i // 10:03d}",
            i % 10,
            "user",
            text,
            "",
            base + datetime.timedelta(minutes=i),
        )
        for i, text in enumerate(sonnets)
    ]


TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _transcripts(spark, texts: list[str]):
    df = spark.createDataFrame(sonnets_transcript_rows(texts), TRANSCRIPT_SCHEMA)
    df = df.repartition(8).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def sonnets_transcripts(spark, sonnets):
    return _transcripts(spark, sonnets)


@pytest.fixture(scope="session")
def generated_transcripts(spark, generated):
    return _transcripts(spark, generated)


def pytest_terminal_summary(terminalreporter):
    """Print the skip count per reason, so the summary shows how many tests
    depend on data that is absent (e.g. the reference corpus)."""
    reasons = collections.Counter()
    for rep in terminalreporter.stats.get("skipped", []):
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
        reasons[reason.removeprefix("Skipped: ")] += 1
    if reasons:
        terminalreporter.section("skips by reason")
        for reason, n in reasons.most_common():
            terminalreporter.line(f"{n:5d}  {reason}")
