"""Seeded Reddit-shaped inputs and the truth the benchmark checks against.

Everything here is pure Python: the engine only ever sees the NDJSON
files written from these generators.  The shape
follows FIXTURES.md section 1:

- Zipf-skewed authors with about 5% literal ``[deleted]``;
- about 60% null flair;
- mixed ``t3_``/``t1_`` parents, about 1% phantom parents, and a share
  of deep reply chains;
- HTML entities and ``{}`` braces in text, newlines in titles;
- re-sends with edited text, score-only re-sends, identical re-sends,
  deletion-masked re-sends, and same-second ``created`` collisions at
  dump boundaries;
- copypasta comments: a few bodies re-posted verbatim (exact
  duplicates) or with one word changed (near duplicates), the input the
  corpus-curation rungs remove.

:class:`Archive` keeps the canonical state the store must hold after
each dump (text HTML-unescaped the way the ingest path does it), so
every check is a pure-Python computation over that state.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random

WORDS = (
    "the a and of to in is that it for "
    "archive thread comment reply score edit spark merge bucket version "
    "listing index page render delta dump ingest poll stream author flair "
    "karma post link self nsfw mod vote sort tree depth parent child walk "
    "query plan stage shuffle task driver worker cache pin lazy eager"
).split()
SUBREDDITS = ["AskArchive", "DataHoarding", "Timesearch", "sparkgraft"]
FLAIRS = ["Discussion", "Question", "Meta", "News"]
ENTITIES = ["&amp;", "&lt;", "&gt;", "&quot;", "&#39;"]
DELETED = "[deleted]"
# ids at or above this base36 value are never generated: parents there
# are phantoms (the comment-tree walk's missing-parent path)
PHANTOM_BASE = 36 ** 6
# distinct (Zipf-ranked) authors of one archive
N_AUTHORS = 400
# curation corpus: shares of documents that copy an earlier one verbatim
# (exact duplicates) or with one word changed (near duplicates)
CORPUS_EXACT = 0.05
CORPUS_NEAR = 0.05


def base36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if n == 0:
            return out


def make_text(rng: random.Random, lo: int, hi: int) -> str:
    """lo..hi words, sometimes with an HTML entity or a ``{word}``."""
    words = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    if rng.random() < 0.3:
        words.insert(rng.randrange(len(words) + 1), rng.choice(ENTITIES))
    if rng.random() < 0.15:
        words.insert(rng.randrange(len(words) + 1), "{" + rng.choice(WORDS) + "}")
    return " ".join(words)


def one_word_changed(rng: random.Random, body: str) -> str:
    words = body.split()
    words[rng.randrange(len(words))] = rng.choice(WORDS)
    return " ".join(words)


def unescape_basic(text: str) -> str:
    """The ingest path's entity rules, applied in the same order."""
    for pat, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&#39;", "'"), ("&amp;", "&")):
        text = text.replace(pat, rep)
    return text


class Archive:
    """Generator of dumps over one archive, plus the archive's truth.

    ``subs`` and ``coms`` map a fullname to the canonical stored row
    (the fields the checks read); ``edits`` counts the edit-history rows
    the store must have appended per entity."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.subs: dict[str, dict] = {}
        self.coms: dict[str, dict] = {}
        self.thread_comments: dict[str, list[str]] = {}
        self.edits = {"submissions": 0, "comments": 0}
        # when set, re-sends come only from these keys, each at most
        # once (see settle)
        self._resendable: set[str] | None = None
        self.clock = 1_500_000_000 + self.rng.randrange(10_000_000)
        self._next_sub = self.rng.randrange(1000, 5000)
        self._next_com = self.rng.randrange(10_000, 50_000)
        weights = [1.0 / (rank + 1) ** 1.1 for rank in range(N_AUTHORS)]
        self._authors = [f"user{self.rng.randrange(10**6)}_{i}"
                         for i in range(N_AUTHORS)]
        self._author_cdf = list(itertools.accumulate(weights))
        # copypasta: bodies re-posted verbatim or lightly mutated by
        # several authors (the corpus rungs' exact and near-duplicates)
        self.copypasta = [make_text(self.rng, 20, 40) for _ in range(8)]

    # -- field generators ---------------------------------------------------

    def _author(self) -> str:
        rng = self.rng
        if rng.random() < 0.05:
            return DELETED
        x = rng.random() * self._author_cdf[-1]
        return self._authors[bisect.bisect_left(self._author_cdf, x)]

    def _tick(self) -> int:
        self.clock += self.rng.choice((0, 1, 1, 2, 3))
        return self.clock

    # -- item constructors ----------------------------------------------------

    def _new_submission(self) -> dict:
        rng = self.rng
        sid = base36(self._next_sub)
        self._next_sub += rng.randint(1, 3)
        is_self = rng.random() < 0.5
        obj = {
            "id": sid, "name": "t3_" + sid, "created_utc": self._tick(),
            "author": self._author(), "subreddit": rng.choice(SUBREDDITS),
            "title": make_text(rng, 3, 8) + ("\nsecond line" if rng.random() < 0.05 else ""),
            "selftext": make_text(rng, 5, 40) if is_self else "",
            "score": rng.randint(-5, 500), "is_self": is_self,
            "over_18": rng.random() < 0.03, "num_comments": 0,
            "edited": False,
        }
        if rng.random() < 0.4:
            obj["link_flair_text"] = rng.choice(FLAIRS)
            obj["link_flair_css_class"] = obj["link_flair_text"].lower()
        if rng.random() < 0.02:
            obj["distinguished"] = "moderator"
        if not is_self:
            r = rng.random()
            if r < 0.2:
                obj["url"] = f"/r/{obj['subreddit']}/comments/{sid}/x/"
            elif r < 0.3:
                obj["url"] = "https://example.org/x"
                obj["crosspost_parent"] = "t3_" + base36(rng.randrange(36 ** 4))
                obj["crosspost_parent_list"] = [{"permalink": f"/r/x/comments/{sid}/"}]
            else:
                obj["url"] = f"https://example.org/{rng.choice(WORDS)}/{sid}"
        self.thread_comments["t3_" + sid] = []
        return obj

    def _new_comment(self, sub_full: str) -> dict:
        rng = self.rng
        cid = base36(self._next_com)
        self._next_com += rng.randint(1, 3)
        siblings = self.thread_comments.setdefault(sub_full, [])
        r = rng.random()
        if r < 0.01:
            parent = "t1_" + base36(PHANTOM_BASE + rng.randrange(36 ** 5))
        elif siblings and r < 0.35:
            parent = siblings[-1]  # reply chains: deep threads
        elif siblings and r < 0.6:
            parent = rng.choice(siblings)
        else:
            parent = sub_full
        r = rng.random()
        if r < 0.03:
            body = rng.choice(self.copypasta)
        elif r < 0.06:
            body = one_word_changed(rng, rng.choice(self.copypasta))
        else:
            body = make_text(rng, 3, 30)
        obj = {
            "id": cid, "name": "t1_" + cid, "created_utc": self._tick(),
            "author": self._author(), "subreddit": self.subs[sub_full]["subreddit"]
            if sub_full in self.subs else rng.choice(SUBREDDITS),
            "body": body, "score": rng.randint(-10, 200),
            "parent_id": parent, "link_id": sub_full, "edited": False,
        }
        if rng.random() < 0.02:
            obj["author"], obj["body"] = DELETED, "[removed]"
        siblings.append("t1_" + cid)
        return obj

    # -- truth --------------------------------------------------------------

    def _apply(self, obj: dict) -> None:
        """Fold one dump line into the truth."""
        is_sub = obj["name"].startswith("t3_")
        table = self.subs if is_sub else self.coms
        entity = "submissions" if is_sub else "comments"
        text_key = "selftext" if is_sub else "body"
        text = unescape_basic(obj.get(text_key) or "")
        cur = table.get(obj["name"])
        if cur is None:
            row = {"author": obj["author"],
                   "created": obj["created_utc"], "score": obj["score"],
                   "subreddit": obj["subreddit"], "text": text}
            if is_sub:
                row.update(title=obj["title"], url=obj.get("url"))
            else:
                row.update(parent=obj["parent_id"], submission=obj["link_id"])
            table[obj["name"]] = row
            return
        cur["score"] = obj["score"]
        masked = (obj["author"] == DELETED and text in ("[removed]", "[deleted]"))
        if not masked and text != cur["text"]:
            self.edits[entity] += 1
            cur["text"] = text

    # -- dumps ----------------------------------------------------------------

    def initial_dump(self, n_subs: int, comments_per_sub: int) -> list[dict]:
        lines = []
        for _ in range(n_subs):
            sub = self._new_submission()
            lines.append(sub)
            self._apply(sub)
            for _ in range(self.rng.randint(0, 2 * comments_per_sub)):
                com = self._new_comment(sub["name"])
                lines.append(com)
                self._apply(com)
        return lines

    def delta_dump(self, n_new_subs: int, n_new_comments: int,
                   n_resends: int, touch_recent: int = 0) -> list[dict]:
        """New items, new comments on existing threads, and re-sends of
        stored items.  The first new item reuses the previous dump's last
        ``created`` second (the boundary collision).  ``touch_recent``
        > 0 confines new comments and re-sends to the newest threads,
        the shape of a live poll."""
        rng = self.rng
        lines: list[dict] = []
        threads = list(self.subs)
        if touch_recent:
            threads = threads[-touch_recent:]
        self.clock -= 1
        for _ in range(n_new_subs):
            sub = self._new_submission()
            lines.append(sub)
            threads.append(sub["name"])
        for _ in range(n_new_comments):
            lines.append(self._new_comment(rng.choice(threads)))
        stored = [t for t in threads if t in self.subs]
        pool: list[str] = []
        for t in rng.sample(stored, min(len(stored), n_resends)):
            pool.append(t)
            pool.extend(c for c in self.thread_comments[t] if c in self.coms)
        if self._resendable is not None:
            pool = [k for k in pool if k in self._resendable]
        seen = {o["name"] for o in lines}
        for full in rng.sample(pool, min(n_resends, len(pool))):
            if full in seen:
                continue
            seen.add(full)
            lines.append(self._resend(full))
            if self._resendable is not None:
                self._resendable.discard(full)
        for obj in lines:
            self._apply(obj)
        return lines

    def settle(self) -> None:
        """From now on re-send only items that exist now, each at most
        once.  Files polled live can share a micro-batch, which keeps one
        version per key; with this rule no key appears in two files that
        could meet in one batch, so every re-send is applied on its own."""
        self._resendable = set(self.subs) | set(self.coms)

    def _resend(self, full: str) -> dict:
        """A re-send of a stored item: edited text (40%), score-only
        change (30%), identical (25%) or a deletion placeholder (5%)."""
        rng = self.rng
        is_sub = full.startswith("t3_")
        cur = (self.subs if is_sub else self.coms)[full]
        obj = {"id": full[3:], "name": full, "created_utc": cur["created"],
               "author": cur["author"], "score": cur["score"],
               "subreddit": cur["subreddit"], "edited": False}
        text_key = "selftext" if is_sub else "body"
        obj[text_key] = cur["text"].replace("&", "&amp;").replace("<", "&lt;")
        if is_sub:
            obj.update(title=cur["title"], is_self=cur["url"] is None,
                       over_18=False)
            if cur["url"] is not None:
                obj["url"] = cur["url"]
        else:
            obj.update(parent_id=cur["parent"], link_id=cur["submission"])
        r = rng.random()
        if r < 0.4:
            obj[text_key] = obj[text_key] + " edit " + rng.choice(WORDS)
            obj["score"] = cur["score"] + rng.randint(1, 20)
            obj["edited"] = self.clock + rng.randint(1, 100)
        elif r < 0.7:
            obj["score"] = cur["score"] + rng.randint(1, 20)
        elif r > 0.95:
            obj["author"], obj[text_key] = DELETED, "[deleted]"
        return obj

    # -- expected outputs ---------------------------------------------------

    def breakdown(self) -> dict[str, dict[str, int]]:
        """Per-author (submissions, comments) counts, zero-filled."""
        out: dict[str, dict[str, int]] = {}
        for entity, table in (("submissions", self.subs), ("comments", self.coms)):
            for row in table.values():
                rec = out.setdefault(row["author"], {"submissions": 0, "comments": 0})
                rec[entity] += 1
        return out

    def thread_state(self) -> dict[str, tuple]:
        """Render-relevant state per submission: equal state means the
        thread's page cannot have changed."""
        per: dict[str, list] = {s: [] for s in self.subs}
        for cid, row in self.coms.items():
            if row["submission"] in per:
                per[row["submission"]].append(
                    (cid, row["score"], row["text"]))
        return {s: (self.subs[s]["score"], self.subs[s]["text"],
                    tuple(sorted(per[s]))) for s in self.subs}


def corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """(doc_id, text) of a curation corpus: documents of 20-80 words,
    about ``CORPUS_EXACT`` of them verbatim copies of an earlier one and
    ``CORPUS_NEAR`` one-word-changed copies."""
    rng = random.Random(seed)
    docs: list[tuple[int, str]] = []
    for i in range(n_docs):
        r = rng.random()
        if docs and r < CORPUS_EXACT:
            body = rng.choice(docs)[1]
        elif docs and r < CORPUS_EXACT + CORPUS_NEAR:
            body = one_word_changed(rng, rng.choice(docs)[1])
        else:
            body = make_text(rng, 20, 80)
        docs.append((i, body))
    return docs


def write_ndjson(lines: list[dict], path: str) -> int:
    """Write one dump; returns its size in bytes."""
    data = "".join(json.dumps(o) + "\n" for o in lines).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)

