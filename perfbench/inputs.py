"""Seeded input generators for every workload.

Everything the engine sees is made here from one ``random.Random(seed)``:
the same seed gives the same documents, queries and sessions.  The
request stream and the session generator also report the traffic
properties they produced (repeat share, topic-change share, events per
session), so a run states what share of its traffic has a property next
to the numbers it measured.

Documents are space-separated words drawn Zipf-skewed from a synthetic
vocabulary, like the driver's ``documents`` table; they are already in the
canonical form the engine's preprocessing produces (lower case, single
spaces), so driver-side reference embeddings see the same tokens.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

VOCAB_SIZE = 3000
EPOCH = datetime(2024, 1, 1)


def _vocab(rng: random.Random) -> list[str]:
    sy = ["ka", "lo", "mi", "ren", "tas", "vel", "or", "qui", "zan", "pe",
          "dro", "sul", "nim", "ba", "tor", "ex", "fi", "gu", "hal", "jo"]
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choices(sy, k=rng.randint(2, 4))))
    return sorted(words)


class Text:
    """Zipf-weighted word source shared by every generator of one run."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.words = _vocab(rng)
        self.weights = [1.0 / (i + 1) ** 0.9 for i in range(VOCAB_SIZE)]

    def doc(self) -> str:
        """A document of 20-80 words."""
        n = self.rng.randint(20, 80)
        return " ".join(self.rng.choices(self.words, self.weights, k=n))


def corpus(text: Text, n_docs: int) -> list[str]:
    """The texts of docs ``0..n_docs-1``."""
    return [text.doc() for _ in range(n_docs)]


def window(text: str, rng: random.Random) -> str:
    """A run of 6-14 consecutive words of ``text``."""
    words = text.split()
    n = min(len(words), rng.randint(6, 14))
    start = rng.randrange(len(words) - n + 1)
    return " ".join(words[start : start + n])


def query_pool(text: Text, docs: list[str], size: int) -> list[str]:
    """Distinct word windows of 6-14 words, each from a random document."""
    pool: list[str] = []
    seen: set[str] = set()
    while len(pool) < size:
        q = window(docs[text.rng.randrange(len(docs))], text.rng)
        if q not in seen:
            seen.add(q)
            pool.append(q)
    return pool


class RequestStream:
    """Closed-loop request generator.  Request sizes follow one fixed cycle
    over 1-32 queries, the same for every seed, so runs with different
    seeds carry the same amount of work; the queries themselves are drawn
    Zipf-skewed (exponent 1.1) from the pool, so popular ones repeat
    across and within requests."""

    SIZES = (32, 1, 16, 4, 24, 8, 2, 12)

    def __init__(self, rng: random.Random, pool_size: int):
        self.rng = rng
        self.pool_size = pool_size
        self.weights = [1.0 / (i + 1) ** 1.1 for i in range(pool_size)]
        self.seen: set[int] = set()
        self.queries = 0
        self.repeats = 0
        self.sizes: list[int] = []

    def next(self) -> list[int]:
        b = self.SIZES[len(self.sizes) % len(self.SIZES)]
        picks = self.rng.choices(range(self.pool_size), self.weights, k=b)
        for p in picks:
            self.repeats += p in self.seen
            self.seen.add(p)
        self.queries += b
        self.sizes.append(b)
        return picks

    def properties(self) -> dict:
        return {
            "requests": len(self.sizes),
            "queries": self.queries,
            "repeat_frac": self.repeats / max(1, self.queries),
            "batch_size_mean": self.queries / max(1, len(self.sizes)),
        }


def sessions(
    text: Text, docs: list[str], n_events: int, topic_change: float
) -> tuple[list[tuple], dict]:
    """Multi-turn QA sessions: (event_id, ts, session_id, question).

    A session holds 4-16 turns 20-600 s apart (inside the 30-minute
    session TTL).  Each turn asks a word window of the session's current
    topic document; with probability ``topic_change`` the turn first moves
    to a new random topic."""
    rng = text.rng
    events: list[tuple] = []
    n_sessions = changes = 0
    while len(events) < n_events:
        sid = f"s{n_sessions:05d}"
        n_sessions += 1
        ts = EPOCH + timedelta(seconds=rng.randrange(86_400))
        topic = docs[rng.randrange(len(docs))]
        for turn in range(rng.randint(4, 16)):
            if len(events) >= n_events:
                break
            if turn and rng.random() < topic_change:
                topic = docs[rng.randrange(len(docs))]
                changes += 1
            events.append((len(events), ts, sid, window(topic, rng)))
            ts += timedelta(seconds=rng.randint(20, 600))
    return events, {
        "events": len(events),
        "sessions": n_sessions,
        "events_per_session": len(events) / n_sessions,
        "topic_change_frac": changes / len(events),
    }
