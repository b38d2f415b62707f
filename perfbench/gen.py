"""Seeded input generators. Everything the engine sees is written here.

* ``corpus_docs`` — documents with Zipf word frequencies, planted
  near-duplicate clusters, a share of exact copies, a share of German
  documents and a fixed boilerplate footer on a share of documents (the hot
  blocking key).
* ``TrailGenerator`` — CloudTrail-shaped events with Zipf role keys and a
  share of ``AssumeRole`` writes, plus the expected ``entity`` of every
  event under the ``s2s_enrich`` semantics (the stream's reference).

Same seed, same inputs: every random draw comes from one
``numpy.random.Generator`` seeded by the caller.
"""

from __future__ import annotations

import numpy as np

STOPWORDS = ("the", "of", "and", "to", "a", "in", "is", "it", "that", "for")
GERMAN = ("der", "die", "das", "und", "ist", "nicht", "mit", "auf")
FOOTER = "subscribe to our newsletter for weekly updates and exclusive member offers"
_SYLLABLES = ("ka", "lo", "mi", "ren", "tor", "sa", "vel", "dra", "po", "qui",
              "ben", "stal", "ox", "ur", "fen", "gri", "mas", "tek", "ulo", "zan")


def _vocabulary(n: int) -> list[str]:
    """``n`` distinct content words, identical for every seed."""
    rng = np.random.default_rng(0)
    words: list[str] = []
    seen = set(STOPWORDS) | set(GERMAN)
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES, size=rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


VOCAB = 3000
WORD_ZIPF_S = 1.05
NEAR_DUP_SHARE = 0.25
EXACT_DUP_SHARE = 0.03
FOOTER_SHARE = 0.05
FOREIGN_SHARE = 0.08


def corpus_docs(rng: np.random.Generator, n_docs: int) -> list[dict]:
    """Document rows (doc_id, text).

    A near-duplicate copies an earlier document and replaces each word with
    probability 0.08; an exact duplicate copies it verbatim. Footer and
    language are drawn per document afterwards, so a copy may differ from
    its original in both."""
    words = np.array(list(STOPWORDS) + _vocabulary(VOCAB))
    probs = zipf_probs(len(words), WORD_ZIPF_S)
    texts: list[list[str]] = []
    for _ in range(n_docs):
        u = rng.random()
        if texts and u < NEAR_DUP_SHARE:
            base = texts[rng.integers(len(texts))]
            swap = rng.random(len(base)) < 0.08
            repl = rng.choice(words, size=len(base), p=probs)
            texts.append([r if s else b for b, r, s in zip(base, repl, swap)])
        elif texts and u < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(list(texts[rng.integers(len(texts))]))
        else:
            texts.append(list(rng.choice(words, size=rng.integers(40, 121), p=probs)))
    rows = []
    for i, ws in enumerate(texts):
        if rng.random() < FOREIGN_SHARE:
            ws = [GERMAN[j % len(GERMAN)] if w in STOPWORDS else w
                  for j, w in enumerate(ws)]
        text = " ".join(ws)
        if rng.random() < FOOTER_SHARE:
            text = f"{text} {FOOTER}"
        rows.append({"doc_id": i, "text": text})
    return rows


ROLES = 2000
ROLE_ZIPF_S = 1.1
WRITE_SHARE = 0.05
EVENT_NAMES = ("GetObject", "PutObject", "DescribeInstances", "ListBuckets",
               "ConsoleLogin")


class TrailGenerator:
    """CloudTrail-shaped events for the ``s2s_enrich`` stream.

    Role keys are Zipf over ``ROLES``; a share ``WRITE_SHARE`` of events
    are ``AssumeRole`` writes. ``expected`` maps event_id to the entity the
    pipeline must emit: the latest ``user/<principal>`` written for the
    role before (or by) the event, else the raw role id."""

    def __init__(self, seed: int, role_prefix: str = "role", first_id: int = 0):
        self.rng = np.random.default_rng(seed)
        self.roles = np.array([f"{role_prefix}-{i:05d}" for i in range(ROLES)])
        self.probs = zipf_probs(ROLES, ROLE_ZIPF_S)
        self.state: dict[str, str] = {}
        self.expected: dict[int, str] = {}
        self.next_id = first_id

    def events(self, n: int, created: float) -> list[dict]:
        """``n`` events, all stamped with creation time ``created`` (epoch s)."""
        roles = self.rng.choice(self.roles, size=n, p=self.probs)
        writes = self.rng.random(n) < WRITE_SHARE
        names = self.rng.integers(len(EVENT_NAMES), size=n)
        principals = self.rng.integers(500, size=n)
        mfa = self.rng.random(n) < 0.7
        ts = np.datetime64(int(created * 1000), "ms").astype(str) + "Z"
        out = []
        for i in range(n):
            eid, role = self.next_id, str(roles[i])
            self.next_id += 1
            name = "AssumeRole" if writes[i] else EVENT_NAMES[names[i]]
            principal = f"p{principals[i]}"
            if writes[i]:
                self.state[role] = f"user/{principal}"
            self.expected[eid] = self.state.get(role, role)
            out.append({"event_id": eid, "ts": ts, "role_id": role,
                        "event_name": name, "principal": principal,
                        "mfa": "true" if mfa[i] else "false",
                        "created": created})
        return out
