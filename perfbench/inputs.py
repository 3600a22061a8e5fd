"""Seeded benchmark inputs: star-schema tables and a raw maildir tree.

Both are pure functions of the seed. The tables come from the repository's
own fixture generator (``tools/gen_fixtures.generate``). The maildir tree is
written here: RFC822 files under ``b<batch>/<user>/<folder>/<file>``, one
directory per micro-batch, mixing cross-mailbox duplicates, non-UTF-8 bodies,
files without a Message-ID and a fixed number of malformed files per batch.
The generator keeps a manifest of every file so the benchmark knows what each
lookup must return and how many files the parser must quarantine.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
from dataclasses import dataclass, field

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def make_tables(sf: float, outdir: str, seed: int) -> dict:
    """Write the seeded tables to ``outdir``; return their rows and bytes."""
    import gen_fixtures  # tools/ is on sys.path (run.py puts it there)
    import pyarrow.parquet as pq

    with contextlib.redirect_stdout(sys.stderr):
        gen_fixtures.generate(sf, outdir, seed)
    rows, nbytes = {}, 0
    for t in TABLES:
        path = os.path.join(outdir, f"{t}.parquet")
        rows[t] = pq.read_metadata(path).num_rows
        nbytes += os.path.getsize(path)
    return {"sf": sf, "rows": rows, "bytes": nbytes}


USERS = ("allen-p", "bass-e", "dasovich-j", "kaminski-v", "lay-k",
         "mann-k", "shackleton-s", "taylor-m")
FOLDERS = ("inbox", "sent_items", "archive")
WORDS = ("gas", "power", "deal", "trade", "schedule", "meeting", "contract",
         "price", "curve", "desk", "report", "forward", "pipeline", "storage",
         "capacity", "west", "east", "risk", "book", "credit", "legal",
         "review", "draft", "final", "today", "tomorrow", "call", "notes")
LATIN1_WORDS = ("café", "naïve", "résumé", "façade", "Zürich", "señor",
                "crème", "déjà")
KOI8_WORDS = ("привет", "газ", "сделка", "цена", "отчёт", "встреча")
#: RFC822 Date whose UTC conversion overflows ``datetime``: the parser
#: raises on it, so each such file must come back quarantined.
BAD_DATE = "Fri, 31 Dec 9999 23:30:00 -0100"
#: Per batch: files the parser must quarantine, latin-1 / koi8-r bodies,
#: messages without a Message-ID, and the share of byte-identical copies
#: of an earlier message placed in another user's mailbox.
MALFORMED_PER_BATCH = 1
NON_UTF8_PER_BATCH = 2
NO_ID_PER_BATCH = 2
DUP_SHARE = 0.2
#: Message-IDs looked up after each commit.
POINT_KEYS = 2


@dataclass
class MailFile:
    batch: int
    user: str
    folder: str
    filename: str
    #: Identity of the message (its Message-ID, or a tag for messages
    #: without one); None for a malformed file.
    key: str | None
    message_id: str | None
    nbytes: int


@dataclass
class MaildirTree:
    """A generated tree: ``root/b<k>/<user>/<folder>/<file>`` per batch."""

    root: str
    batch_size: int
    files: list[MailFile] = field(default_factory=list)

    def batch_dir(self, k: int) -> str:
        return os.path.join(self.root, f"b{k:03d}")

    def landed(self, n_batches: int) -> list[MailFile]:
        return [f for f in self.files if f.batch < n_batches]

    def input_bytes(self, n_batches: int) -> int:
        return sum(f.nbytes for f in self.landed(n_batches))

    def mailbox_size(self, user: str, n_batches: int) -> int:
        """Distinct messages the store must hold for ``user``."""
        return len({f.key for f in self.landed(n_batches)
                    if f.user == user and f.key is not None})

    def copies(self, message_id: str, n_batches: int) -> int:
        return sum(1 for f in self.landed(n_batches)
                   if f.message_id == message_id)

    def point_keys(self, n_batches: int, seed: int) -> list[str]:
        """``POINT_KEYS`` Message-IDs from landed batches: the newest
        file's, and the rest drawn by seed."""
        ids = [f for f in self.landed(n_batches)
               if f.message_id and f.key is not None]
        rng = random.Random(f"{seed}:lookup:{n_batches}")
        picks = [ids[-1]] + rng.sample(ids, POINT_KEYS - 1)
        return [f.message_id for f in picks]


def _address(user: str) -> str:
    first, _, last = user.partition("-")
    return f"{last}.{first}@enron.example"


def _message(rng: random.Random, user: str, *, message_id: str | None,
             subject: str, body: bytes, charset: str | None,
             bad_date: bool = False) -> bytes:
    to = rng.sample([u for u in USERS if u != user], rng.randint(1, 3))
    day, hour = rng.randint(1, 28), rng.randint(0, 23)
    tz = rng.choice(("-0700", "-0800", "+0000", "+0100"))
    date = BAD_DATE if bad_date else (
        f"Mon, {day} May 2001 {hour:02d}:{rng.randint(0, 59):02d}:00 {tz}")
    head = []
    if message_id:
        head.append(f"Message-ID: {message_id}")
    head += [f"Date: {date}",
             f"From: {_address(user)}",
             f"To: {', '.join(_address(u) for u in to)}",
             f"Subject: {subject}",
             "Mime-Version: 1.0"]
    if rng.random() < 0.3:
        head.append(f"Cc: {_address(rng.choice(USERS))}")
    if rng.random() < 0.15:
        boundary = f"b{rng.getrandbits(32):08x}"
        ctype = f"text/plain; charset={charset}" if charset else "text/plain"
        head.append(f'Content-Type: multipart/mixed; boundary="{boundary}"')
        parts = (f"--{boundary}\nContent-Type: {ctype}\n\n".encode()
                 + body
                 + f"\n--{boundary}\nContent-Type: application/pdf\n"
                   f'Content-Disposition: attachment; filename="deal_{day}.pdf"'
                   f"\n\n%PDF-{rng.getrandbits(48):012x}\n--{boundary}--\n"
                   .encode())
        return "\n".join(head).encode() + b"\n\n" + parts
    if charset:
        head.append(f"Content-Type: text/plain; charset={charset}")
    return "\n".join(head).encode() + b"\n\n" + body + b"\n"


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def make_maildir(root: str, seed: int | str, n_batches: int,
                 batch_size: int) -> MaildirTree:
    """Write ``n_batches`` micro-batch directories of ``batch_size`` files.

    Per batch: ``MALFORMED_PER_BATCH`` files the parser must quarantine,
    ``NON_UTF8_PER_BATCH`` latin-1 / koi8-r bodies (half without a declared
    charset), ``NO_ID_PER_BATCH`` messages keyed by content hash, and
    ``DUP_SHARE`` of the files byte-identical copies of an earlier message
    placed in another user's mailbox. The rest are fresh messages.
    """
    tree = MaildirTree(root, batch_size)
    originals: list[tuple[str, str | None, bytes, str]] = []
    for k in range(n_batches):
        rng = random.Random(f"{seed}:maildir:{k}")
        n_dup = int(round(DUP_SHARE * batch_size))
        kinds = (["malformed"] * MALFORMED_PER_BATCH
                 + ["non_utf8"] * NON_UTF8_PER_BATCH
                 + ["no_id"] * NO_ID_PER_BATCH + ["dup"] * n_dup)
        kinds += ["fresh"] * (batch_size - len(kinds))
        rng.shuffle(kinds)
        for i, kind in enumerate(kinds):
            user, folder = rng.choice(USERS), rng.choice(FOLDERS)
            tag = f"{seed}.{k}.{i}"
            mid: str | None = f"<{tag}@bench.example>"
            key: str | None = mid
            if kind == "dup" and originals:
                key, mid, raw, owner = rng.choice(originals)
                user = rng.choice([u for u in USERS if u != owner])
            elif kind == "malformed":
                raw = _message(rng, user, message_id=mid,
                               subject=_words(rng, 2, 5),
                               body=_words(rng, 10, 60).encode(),
                               charset=None, bad_date=True)
                key = None
            elif kind == "non_utf8":
                charset = rng.choice(("iso-8859-1", "koi8-r"))
                vocab = LATIN1_WORDS if charset == "iso-8859-1" else KOI8_WORDS
                text = " ".join(rng.choice(vocab) for _ in range(30))
                raw = _message(rng, user, message_id=mid,
                               subject=_words(rng, 2, 5),
                               body=text.encode(charset),
                               charset=charset if rng.random() < 0.5 else None)
            else:
                if kind == "no_id":
                    mid, key = None, f"no-id:{tag}"
                raw = _message(rng, user, message_id=mid,
                               subject=f"{_words(rng, 2, 5)} [{tag}]",
                               body=_words(rng, 20, 200).encode(),
                               charset=None)
            if key is not None and kind != "dup":
                originals.append((key, mid, raw, user))
            filename = f"{k:03d}{i:04d}."
            d = os.path.join(tree.batch_dir(k), user, folder)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, filename), "wb") as f:
                f.write(raw)
            tree.files.append(MailFile(k, user, folder, filename, key, mid,
                                       len(raw)))
    return tree
