"""Seeded input generators for the workloads (pure Python, no JVM).

Every input is a function of the seed alone, so the same seed yields
byte-identical files and a different seed yields different bytes with the
same sizes and class shares. The generators also return what the program
must produce from those inputs (valid row counts, planned curation
decisions), which the workloads check the program's outputs against.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

# --- wrm station feed -------------------------------------------------------

HEADER = (
    "#id,1705147845.123|3600|-3600,name,lat,lon,bikes,spaces,installed,"
    "locked,temporary,total_docks,givesbonus_acceptspedelecs_fbbattlevel,"
    "pedelecs"
)
POLL_S = 30  # the reference sensor's poll interval (simulated clock)
FIRST_DAY = datetime(2026, 1, 5, 6, 0, 0, tzinfo=timezone.utc)


@dataclass(frozen=True)
class FeedShape:
    """Rows of one snapshot. Sizes and their sources: perfbench/README.md."""

    stations: int = 50  # the reference's sample station asset (FIXTURES.md §6)
    bikes: int = 40  # scaled choice: free bikes beside the stations
    malformed_per_file: int = 2  # dropped by the parser, row-granular


def snapshot_ts(day: int, index: int) -> datetime:
    """Simulated poll clock: snapshot ``index`` of backlog day ``day``."""
    return FIRST_DAY + timedelta(days=day, seconds=POLL_S * index)


def snapshot(seed: int, ts: datetime, shape: FeedShape) -> tuple[str, int]:
    """One API poll as the wire text (FIXTURES.md §1) and its number of
    rows the parser must keep. Malformed rows cover the three drop paths:
    short row, composite field without three parts, unparseable number."""
    rng = random.Random(f"feed|{seed}|{ts.isoformat()}")
    epoch = ts.timestamp()
    rows = []
    for i in range(shape.stations):
        docks = 10 + (i % 15)
        bikes = rng.randint(0, docks)
        rows.append(
            f"{i + 1:03d},{epoch + rng.random():.3f}|3600|-3600,Station {i + 1},"
            f"{51.05 + 0.1 * ((i * 37) % 100) / 100:.4f},"
            f"{16.95 + 0.1 * ((i * 61) % 100) / 100:.4f},{bikes},{docks - bikes},"
            f"true,{str(rng.random() < 0.05).lower()},false,{docks},"
            f"{rng.choice(['true', 'false', 'True', ''])},{rng.randint(0, 3)}"
        )
    for i in range(shape.bikes):
        rows.append(
            f"fb{10001 + i},{epoch + rng.random():.3f}|3600|-3600,BIKE {60000 + i},"
            f"{51.05 + 0.1 * rng.random():.4f},{16.95 + 0.1 * rng.random():.4f},"
            f"1,0,true,false,false,1,{rng.choice(['true', 'false'])},0"
        )
    bad = [
        f"{rng.randint(900, 999)},corrupted_row_data",
        f"{rng.randint(900, 999)},{epoch:.3f}|3600,Station X,51.1,17.0,1,1,"
        "true,false,false,2,false,0",
        f"{rng.randint(900, 999)},{epoch:.3f}|3600|-3600,Station Y,not_a_lat,"
        "17.0,1,1,true,false,false,2,false,0",
    ]
    valid = len(rows)
    for j in range(shape.malformed_per_file):
        rows.insert(rng.randrange(len(rows) + 1), bad[j % len(bad)])
    return "\n".join([HEADER, *rows]) + "\n", valid


def snapshot_name(ts: datetime) -> tuple[str, str]:
    """(dt partition, file name) the landing zone gives a snapshot."""
    return f"{ts:%Y-%m-%d}", f"wrm_stations_{ts:%Y-%m-%d_%H-%M-%S}.txt"


def write_backlog(
    seed: int, root: str, days: int, per_day: int, shape: FeedShape, first: int = 0
) -> dict[str, int]:
    """Land ``days`` × ``per_day`` snapshots, from day ``first`` on, under
    ``root/dt=…/`` the way the landing zone names them; returns valid rows
    per dt."""
    valid: dict[str, int] = {}
    for d in range(first, first + days):
        for i in range(per_day):
            ts = snapshot_ts(d, i)
            text, n = snapshot(seed, ts, shape)
            dt, name = snapshot_name(ts)
            os.makedirs(os.path.join(root, f"dt={dt}"), exist_ok=True)
            with open(os.path.join(root, f"dt={dt}", name), "w", encoding="utf-8") as fh:
                fh.write(text)
            valid[dt] = valid.get(dt, 0) + n
    return valid


def live_schedule(days: int, per_day: int, count: int) -> list[datetime]:
    """Simulated poll times of the live phase: they continue the last
    backlog day, so every live micro-batch re-reads that whole day."""
    return [snapshot_ts(days - 1, per_day + i) for i in range(count)]


# --- curation corpus --------------------------------------------------------

DECISIONS = (
    "rejected_quality",
    "rejected_exact",
    "rejected_near_text",
    "rejected_near_vec",
    "rejected_within_text",
    "rejected_within_vec",
    "admitted",
)


@dataclass(frozen=True)
class CorpusShape:
    store_docs: int = 1000
    day_docs: int = 50  # Δ per curation day
    dim: int = 32
    tau: float = 0.9
    words: tuple[int, int] = (60, 90)  # tokens per document
    # per-day counts of each injected case; the remainder is fresh text
    quality: int = 3
    exact_pairs: int = 3  # within-Δ exact copy (case/space-variant)
    store_copies: int = 2  # exact copy of a stored document
    near_text: int = 4  # stored document + one appended word
    near_vec: int = 4  # fresh text, a stored document's vector
    within_text: int = 3  # Δ pairs: original + one appended word
    within_vec: int = 3  # Δ pairs: fresh text, the original's vector


@dataclass
class CurationPlan:
    shape: CorpusShape
    store: list[tuple[int, str]] = field(default_factory=list)
    days: list[list[tuple[int, str]]] = field(default_factory=list)
    vectors: dict[int, list[float]] = field(default_factory=dict)
    expected: list[dict[int, str]] = field(default_factory=list)

    def counts(self, day: int) -> dict[str, int]:
        out = dict.fromkeys(DECISIONS, 0)
        for d in self.expected[day].values():
            out[d] += 1
        return out

    def admitted_total(self, through_day: int) -> int:
        return sum(self.counts(d)["admitted"] for d in range(through_day + 1))


def _vocab(rng: random.Random, n: int = 4000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 9))))
    return sorted(out)


def curation_plan(seed: int, days: int, shape: CorpusShape) -> CurationPlan:
    """Bootstrap corpus plus ``days`` Δs with the decision the funnel must
    reach for every Δ document. Near-duplicates differ by one appended
    word of 60-90 (Jaccard of word 3-shingles ≥ 0.98, so at least one of
    the 4 MinHash bands matches with probability > 1 - 1e-5); unrelated
    documents share no shingle and unrelated vectors are independent
    Gaussians in 32 dimensions (cosine ≥ tau is negligible)."""
    rng = random.Random(f"curation|{seed}")
    vocab = _vocab(rng)
    plan = CurationPlan(shape)

    def text() -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(*shape.words)))

    def vec() -> list[float]:
        return [round(rng.gauss(0.0, 1.0), 5) for _ in range(shape.dim)]

    for i in range(1, shape.store_docs + 1):
        plan.store.append((i, text()))
        plan.vectors[i] = vec()
    pool = dict(plan.store)  # stored or admitted: what later days probe

    for d in range(days):
        next_id = 1_000_000 * (d + 1)
        docs: list[tuple[int, str]] = []
        expect: dict[int, str] = {}

        def add(t: str, v: list[float], decision: str) -> int:
            nonlocal next_id
            next_id += 1
            docs.append((next_id, t))
            plan.vectors[next_id] = v
            expect[next_id] = decision
            return next_id

        injected = (
            shape.quality + 2 * shape.exact_pairs + shape.store_copies
            + shape.near_text + shape.near_vec
            + 2 * shape.within_text + 2 * shape.within_vec
        )
        for _ in range(shape.day_docs - injected):
            add(text(), vec(), "admitted")
        for _ in range(shape.quality):
            add(" ".join(rng.choice(vocab) for _ in range(4)), vec(), "rejected_quality")
        targets = rng.sample(
            sorted(pool), shape.store_copies + shape.near_text + shape.near_vec
        )
        for t in targets[: shape.store_copies]:
            add(pool[t], vec(), "rejected_near_text")
        for t in targets[shape.store_copies : shape.store_copies + shape.near_text]:
            add(pool[t] + " " + rng.choice(vocab), vec(), "rejected_near_text")
        for t in targets[shape.store_copies + shape.near_text :]:
            add(text(), plan.vectors[t], "rejected_near_vec")
        originals = []
        for _ in range(shape.exact_pairs + shape.within_text + shape.within_vec):
            t, v = text(), vec()
            originals.append((add(t, v, "admitted"), t, v))
        # copies get the greater ids: the funnel keeps the smaller one
        for _, t, _ in originals[: shape.exact_pairs]:
            first, rest = t.split(" ", 1)
            add(f"  {first.upper()}   {rest} ", vec(), "rejected_exact")
        for _, t, _ in originals[shape.exact_pairs : shape.exact_pairs + shape.within_text]:
            add(t + " " + rng.choice(vocab), vec(), "rejected_within_text")
        for _, _, v in originals[shape.exact_pairs + shape.within_text :]:
            add(text(), v, "rejected_within_vec")
        plan.days.append(docs)
        plan.expected.append(expect)
        pool.update(
            (i, t) for i, t in docs if expect[i] == "admitted"
        )
    return plan


def write_curation_inputs(plan: CurationPlan, root: str) -> None:
    """Inputs as JSON lines: ``store.jsonl``, ``day_<d>.jsonl`` and
    ``embeddings.jsonl``. The program reads them back through Spark."""
    os.makedirs(root, exist_ok=True)

    def dump(name: str, rows) -> None:
        with open(os.path.join(root, name), "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(json.dumps(r, separators=(",", ":")) + "\n")

    dump("store.jsonl", ({"doc_id": i, "text": t} for i, t in plan.store))
    for d, docs in enumerate(plan.days):
        dump(f"day_{d}.jsonl", ({"doc_id": i, "text": t} for i, t in docs))
    dump(
        "embeddings.jsonl",
        ({"vec_id": i, "embedding": v} for i, v in sorted(plan.vectors.items())),
    )
