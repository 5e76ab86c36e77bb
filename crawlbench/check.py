"""Output checks, run after each pass and outside its timing.

Per committed round:
- every fetched artifact's ``text`` equals the golden ``pages.text`` byte
  for byte (the engine's north-star invariant);
- the scheduled/fetched counts and a digest of the round's seen delta
  equal those of the first pass ever recorded for this workload and seed.
A round that fails either check is a failed operation.
"""

from __future__ import annotations

import json
import os


def text_mismatches(artifacts, golden) -> int:
    """Fetched artifacts whose text is missing from, or differs from, the
    golden text of the page with the same url_hash."""
    from pyspark.sql import functions as F

    fetched = artifacts.filter(F.col("status") == "fetched").select(
        "url_hash", F.col("text").alias("got")
    )
    joined = fetched.join(golden.withColumnRenamed("text", "want"), "url_hash", "left")
    return joined.filter(~F.col("got").eqNullSafe(F.col("want"))).count()


def seen_digest(seen) -> list[int]:
    """Order-independent digest of a seen delta: row count, xor and sum
    (mod 2^31-1) of the url hashes."""
    from pyspark.sql import functions as F

    h = F.xxhash64("url")
    row = seen.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(2_147_483_647))).alias("s"),
    ).first()
    return [int(row["n"]), int(row["x"] or 0), int(row["s"] or 0)]


def round_record(store, stats, golden) -> dict:
    return {
        "round": stats.round,
        "scheduled": stats.scheduled,
        "fetched": stats.fetched,
        "seen_digest": seen_digest(store.read_table(stats.round, "seen")),
        "text_mismatches": text_mismatches(store.read_table(stats.round, "artifacts"), golden),
    }


class Reference:
    """Per-round records of the first pass for one workload and seed,
    kept in the input cache so later passes and later runs compare
    against it."""

    KEYS = ("scheduled", "fetched", "seen_digest")

    def __init__(self, path: str):
        self.path = path
        self.rounds: dict[int, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                self.rounds = {r["round"]: r for r in json.load(f)}

    def failures(self, records: list[dict]) -> list[str]:
        """One problem line per failed round; records of rounds the
        reference lacks are adopted into it."""
        problems = []
        for rec in records:
            why = []
            if rec["text_mismatches"]:
                why.append(f"{rec['text_mismatches']} artifact texts differ from golden")
            ref = self.rounds.get(rec["round"])
            if ref is None:
                if not why:
                    self.rounds[rec["round"]] = {k: rec[k] for k in ("round",) + self.KEYS}
            else:
                why += [
                    f"{k} {rec[k]} != reference {ref[k]}" for k in self.KEYS if rec[k] != ref[k]
                ]
            if why:
                problems.append(f"round {rec['round']}: " + "; ".join(why))
        self._save()
        return problems

    def _save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(self.rounds.values(), key=lambda r: r["round"]), f)
        os.replace(tmp, self.path)
