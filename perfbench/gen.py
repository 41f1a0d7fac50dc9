"""Seeded input generator: a dirty docket batch with one injected-defect
label per row, a Zipf legal vocabulary, log-normal docket-text lengths,
and the HTTP request streams.

The row grammar follows ``tests/fixtures.make_dirty_dockets`` (mixed
date formats, court/judge/status spelling variants, duplicate keys, one
defect per bad row).  Everything is a pure function of the seed: the
same seed gives the same bytes (``dump_batch``).  The module also keeps
the expected warehouse state (``Model``) that the output checks compare
against; it imports nothing from the product.
"""

from __future__ import annotations

import bisect
import json
import random
import re
from dataclasses import dataclass, field

# --- vocabulary -------------------------------------------------------

LEGAL_TERMS = (
    "motion court order plaintiff defendant filed granted denied summary "
    "judgment appeal hearing discovery settlement counsel brief exhibit "
    "stipulation dismiss injunction complaint answer deposition subpoena "
    "trial verdict jury witness testimony evidence objection sustained "
    "overruled remand affidavit declaration sanctions contempt damages "
    "liability negligence contract breach tort claim counterclaim "
    "crossclaim amended pleading memorandum opinion docket clerk notice "
    "appearance continuance conference scheduling mediation arbitration "
    "class certification preliminary permanent restraining temporary "
    "jurisdiction venue transfer removal remanded stay vacated affirmed "
    "reversed petition habeas corpus indictment plea sentencing probation "
    "restitution forfeiture warrant seizure suppression bail custody "
    "guardian estate probate trustee bankruptcy creditor debtor lien "
    "mortgage foreclosure patent trademark copyright infringement royalty "
    "license antitrust merger securities fraud disclosure fiduciary "
    "employment discrimination retaliation harassment wage overtime "
    "pension benefits insurance coverage indemnity subrogation"
).split()

_ONSETS = ("b", "c", "d", "f", "g", "l", "m", "n", "p", "r", "s", "t", "v", "st", "tr", "pl")
_VOWELS = ("a", "e", "i", "o", "u", "ar", "en", "or")


def vocabulary(size: int = 2000) -> list[str]:
    """Legal terms first (the head of the Zipf law), then pronounceable
    filler words; fixed across seeds so vocabularies of runs agree."""
    rng = random.Random(1_000_003)
    words = list(dict.fromkeys(LEGAL_TERMS))
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    """Draws ranks 0..n-1 with P(r) proportional to 1/(r+1)^s."""

    def __init__(self, n: int, s: float = 1.1):
        acc, cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            cum.append(acc)
        self.cum = cum
        self.total = acc

    def draw(self, rng: random.Random) -> int:
        return min(bisect.bisect_left(self.cum, rng.random() * self.total), len(self.cum) - 1)


# --- docket grammar ----------------------------------------------------

COURTS = ("S.D.N.Y.", "S D N Y", "SDNY", "N.D. Cal", "N.D.Cal.", "E.D. Tex", "C.D. Cal", "D. Mass", "D.Mass.", "W.D. Wash")
JUDGES = ("Maria Rodriguez", "Sarah Chen", "Daniel Lee", "Ruth Okafor", "Tomas Novak", "Priya Raman")
JUDGE_TITLES = ("Hon. ", "Judge ", "Justice ", "", "hon. ")
STATUSES = ("Active", "ACTIVE", "active", "Closed", "closed", "pending", "Pending", "Dismissed")
CASE_TYPES = ("Civil", "civil", "Employment", "Criminal", None)
SURNAMES = ("Smith", "Nguyen", "Taylor", "Garcia", "Okafor", "Novak", "Chen", "Rossi", "Khan", "Berg")
COMPANIES = ("Acme Corp", "Energy LLC", "HealthPlus", "Globex", "Initech", "Umbrella Inc", "Stark Ltd")
PARTIES = (
    "{a} (plaintiff); {b}, {c} (defendants)",
    "{a} (third_party)",
    "{a} / {b}",
    "{a} (intervenor) | {b} (defendant)",
    "{a} (plaintiff); {b} (defendant)",
)
#: Request kinds in the order a window client sends them (14 searches,
#: 5 lookups, 1 invalid request per 20), and lookup kinds in the order
#: lookups are sent: lists by judge and by year, details of known cases
#: and an unknown case (-> 404).  Fixed orders keep the mix of a short
#: window the same in every run; its first 5 requests hold every kind.
MIX_CYCLE = tuple({"S": "search", "L": "lookup", "I": "invalid"}[c] for c in "SLSLISSSSLSSSSLSSSLS")
LOOKUP_CYCLE = ("judge", "detail", "year", "detail", "judge", "detail", "year", "detail", "unknown")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

#: Injected defects in the ingest validator's first-failure order; each
#: bad row carries exactly one, so its label is the code ingest assigns.
DEFECTS = (
    ("UNKNOWN", "null_case_number"),
    ("MISSING_CASE_NUMBER", "blank_case_number"),
    ("BAD_DATE", "bad_date"),
    ("FK_COURT", "empty_court"),
    ("VALIDATION_ERROR", "empty_case_type"),
    ("UNKNOWN", "null_status"),
    ("STATUS_UNMAPPED", "bad_status"),
)
DEFECT_RATE = 0.025  # per defect kind, so ~17% of rows fail
DUP_RATE = 0.06  # good rows that reuse a key seen earlier in the batch
MEAN_CHARS = 1350  # mean docket_text length

_JUDGE_TITLE_RE = re.compile(r"^(hon\.?|judge|justice)\s+", re.IGNORECASE)


def normalize_court(raw: str) -> str:
    """Twin of the ingest court normalizer: drop dot/space runs, upper."""
    return re.sub(r"[.\s]+", "", raw).upper()


def normalize_party(raw: str) -> str:
    """Twin of the ingest party normalizer: collapse whitespace, trim, lower."""
    return re.sub(r"\s+", " ", raw).strip(" ").lower()


_ROLE_RE = re.compile(r"\((plaintiff|defendant|plaintiffs|defendants|third_party|intervenor|other)\)", re.IGNORECASE)


def parse_parties(raw: str | None) -> list[tuple[str, str]]:
    """Twin of the ingest party grammar: (name, role) pairs.  Sections
    split on ``;`` and ``/``; a section's first role parenthetical sets
    its role (one trailing ``s`` dropped) and all parentheticals are then
    removed; names split on ``,``; no role means ``other``."""
    out = []
    for section in re.split(r"[;/]", raw or ""):
        section = section.strip(" ")
        if not section:
            continue
        m = _ROLE_RE.search(section)
        if m:
            role = re.sub(r"s$", "", m.group(1).lower())
            section = re.sub(r"\([^)]+\)", "", section).strip(" ")
        else:
            role = "other"
        out += [(name.strip(" "), role) for name in section.split(",") if name.strip(" ")]
    return out


def normalize_judge(raw: str | None) -> str | None:
    """Python twin of the ingest judge normalizer (title strip, collapse
    whitespace, trim, lower); None when the case gets no judge."""
    if raw is None:
        return None
    norm = re.sub(r"\s+", " ", _JUDGE_TITLE_RE.sub("", raw)).strip().lower()
    return norm or None


@dataclass
class Row:
    record: dict
    label: str | None  # injected error code, None for a good row
    iso_date: str | None  # parsed filed_date of a good row


def _date(rng: random.Random) -> tuple[str, str]:
    y, m, d = 2019 + rng.randrange(6), rng.randint(1, 12), rng.randint(1, 28)
    shown = rng.choice((f"{y}-{m:02d}-{d:02d}", f"{m}/{d}/{y}", f"{m}-{d}-{y}", f"{MONTHS[m - 1]} {d}, {y}"))
    return shown, f"{y}-{m:02d}-{d:02d}"


class Generator:
    """Seeded source of docket batches and request streams."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self.vocab = vocabulary()
        self.zipf = Zipf(len(self.vocab))
        self.mu, self.sigma = 6.6, 1.1  # of log(chars): a case has 0 to ~15 chunks
        self.serial = 0

    def budgets(self, n: int) -> list[int]:
        """Log-normal docket lengths, rescaled so every batch of ``n``
        holds the same total text (the backfill work per run does not
        swing with the tail of the draw); ~1% of dockets are empty (no
        chunks; backfill writes a sentinel row)."""
        raw = [0.0 if self.rng.random() < 0.01 else self.rng.lognormvariate(self.mu, self.sigma) for _ in range(n)]
        scale = n * MEAN_CHARS / sum(raw)
        return [min(int(x * scale), 16_000) for x in raw]

    def text(self, rng: random.Random, budget: int) -> str:
        """Zipf words up to ``budget`` characters."""
        words, n = [], 0
        while n < budget:
            w = self.vocab[self.zipf.draw(rng)]
            words.append(w)
            n += len(w) + 1
        return " ".join(words)

    def _new_key(self, rng: random.Random) -> str:
        self.serial += 1
        return f"{1 + self.serial % 9}:{19 + rng.randrange(6)}-cv-{self.serial:05d}"

    def _good(self, rng: random.Random, key: str, budget: int) -> Row:
        shown, iso = _date(rng)
        a, b, c = rng.sample(SURNAMES, 3)
        judge = rng.choice(JUDGES)
        raw_judge = "" if rng.random() < 0.1 else rng.choice(JUDGE_TITLES) + judge
        rec = {
            "case_number": key,
            "court": rng.choice(COURTS),
            "title": f"{a} v. {rng.choice(COMPANIES)}",
            "filed_date": shown,
            "parties": rng.choice(PARTIES).format(a=a, b=b, c=c),
            "case_type": rng.choice(CASE_TYPES),
            "judge": raw_judge,
            "docket_text": self.text(rng, budget),
            "status": rng.choice(STATUSES),
        }
        return Row(rec, None, iso)

    def _defect(self, row: Row, kind: str, rng: random.Random) -> Row:
        rec = dict(row.record)
        if kind == "null_case_number":
            rec["case_number"] = None
        elif kind == "blank_case_number":
            rec["case_number"] = rng.choice(("", "   "))
        elif kind == "bad_date":
            rec["filed_date"] = rng.choice(("13-40-2024", "", "not a date", "2024-02-31"))
        elif kind == "empty_court":
            rec["court"] = ""
        elif kind == "empty_case_type":
            rec["case_type"] = ""
        elif kind == "null_status":
            rec["status"] = None
        else:
            rec["status"] = rng.choice(("archived", "OPEN", "sealed"))
        return Row(rec, next(c for c, k in DEFECTS if k == kind), None)

    def batch(self, n: int) -> list[Row]:
        """``n`` rows with new keys; ~17% carry one defect and ~6% of
        good rows repeat a key seen earlier in the batch (last one wins)."""
        rng = self.rng
        kinds = [k for _, k in DEFECTS]
        rows: list[Row] = []
        seen: list[str] = []
        for budget in self.budgets(n):
            if seen and rng.random() < DUP_RATE:
                key = rng.choice(seen)
            else:
                key = self._new_key(rng)
            row = self._good(rng, key, budget)
            r = rng.random()
            if r < DEFECT_RATE * len(kinds):
                row = self._defect(row, kinds[int(r / DEFECT_RATE)], rng)
            else:
                seen.append(key)
            rows.append(row)
        return rows

    def requests(self, n: int, keys: list[str], years: list[int], hot: list[dict],
                 seen: set[str] | None = None) -> list[dict]:
        """The window client's closed-loop request stream, walking
        ``MIX_CYCLE``: 70% search (k skewed to 5 and 10,
        1-6 Zipf terms), 25% lookups and 5% invalid requests (-> 400).
        When ``hot`` is given, one search in three (the 2nd, 5th, 8th,
        ...) is the next entry of ``hot`` (query and k).  The seed picks the
        parameters; the order of kinds is the same in every run.  A query
        already in ``seen`` is drawn again, so streams sharing one set
        never repeat a query."""
        rng = random.Random(self.seed * 1_000)
        out: list[dict] = []
        n_lookups = n_searches = 0
        for i in range(n):
            kind = MIX_CYCLE[i % len(MIX_CYCLE)]
            if kind == "search":
                n_searches += 1
                if hot and n_searches % 3 == 2:
                    out.append(dict(hot[(n_searches // 3) % len(hot)]))
                    continue
                q = self.query(rng)
                while seen is not None and q in seen:
                    q = self.query(rng)
                if seen is not None:
                    seen.add(q)
                out.append({"kind": "search", "query": q, "k": self.top_k(rng)})
            elif kind == "lookup":
                out.append(self._lookup(rng, n_lookups % len(LOOKUP_CYCLE), keys, years))
                n_lookups += 1
            else:
                out.append(self._invalid(rng))
        return out

    @staticmethod
    def top_k(rng: random.Random) -> int:
        kr = rng.random()
        return 5 if kr < 0.35 else 10 if kr < 0.65 else rng.randint(1, 50)

    def _lookup(self, rng: random.Random, slot: int, keys: list[str], years: list[int]) -> dict:
        kind = LOOKUP_CYCLE[slot]
        if kind == "judge":
            return {"kind": "list", "judge": rng.choice(JUDGES)}
        if kind == "year":
            return {"kind": "list", "year": rng.choice(years)}
        if kind == "detail":
            return {"kind": "detail", "case_number": rng.choice(keys)}
        # an unknown case -> 404
        return {"kind": "detail", "case_number": f"0:00-cv-{rng.randrange(10**6):06d}"}

    @staticmethod
    def _invalid(rng: random.Random) -> dict:
        return rng.choice((
            {"kind": "invalid", "method": "POST", "body": {"query": "x", "limit": 5}},
            {"kind": "invalid", "method": "POST", "body": {"query": "motion", "limit": 51}},
            {"kind": "invalid", "method": "POST", "body": {"query": "motion", "limit": 0}},
            {"kind": "invalid", "method": "GET", "path": "/cases"},
            {"kind": "invalid", "method": "GET", "path": "/cases?year=1800"},
        ))

    def query(self, rng: random.Random) -> str:
        return " ".join(self.vocab[self.zipf.draw(rng)] for _ in range(rng.randint(1, 6)))

    def hot_set(self, size: int = 2) -> list[dict]:
        """The searches (query and k) that hot streams repeat: the first
        two; a longer set starts with the same two."""
        rng = random.Random(self.seed * 7 + 3)
        return [{"kind": "search", "query": self.query(rng), "k": self.top_k(rng)} for _ in range(size)]


def dump_batch(rows: list[Row]) -> bytes:
    """The JSON array ingest reads; deterministic bytes for a seed."""
    return json.dumps([r.record for r in rows], separators=(",", ":")).encode()


# --- expected warehouse state -----------------------------------------


@dataclass
class Case:
    case_number: str
    title: str
    filed_date: str
    status: str
    docket_text: str
    judge: str | None  # normalized
    court: str  # normalized


@dataclass
class Model:
    """What the warehouse must hold after ingest, derived from the
    generator's labels alone."""

    cases: dict[str, Case] = field(default_factory=dict)
    runs: list[dict] = field(default_factory=list)
    #: display name of each normalized court, judge and party: the first
    #: spelling ingest saw
    courts: dict[str, str] = field(default_factory=dict)
    judges: dict[str, str] = field(default_factory=dict)
    party_names: dict[str, str] = field(default_factory=dict)
    #: (normalized party, role) pairs of each case, from all its good rows
    parties: dict[str, set] = field(default_factory=dict)

    def expect_ingest(self, rows: list[Row]) -> dict:
        """Counts ingest must report for ``rows``, then apply them."""
        good = [r for r in rows if r.label is None]
        new_keys = {r.record["case_number"] for r in good} - set(self.cases)
        counts = {
            "read": len(rows),
            "inserted": len(new_keys),
            "updated": len(good) - len(new_keys),
            "failed": len(rows) - len(good),
        }
        for r in rows:  # file order
            rec = r.record
            # rows that pass the key, date and court checks name dimension
            # entries even when a later check (case type, status) fails them
            if r.label in (None, "VALIDATION_ERROR", "STATUS_UNMAPPED") or (
                    r.label == "UNKNOWN" and rec["case_number"] is not None):
                self.courts.setdefault(normalize_court(rec["court"]), rec["court"])
                judge = normalize_judge(rec["judge"])
                if judge:
                    self.judges.setdefault(judge, rec["judge"])
            if r.label is not None:
                continue
            key = rec["case_number"]
            self.cases[key] = Case(  # last writer wins
                case_number=key,
                title=rec["title"] or "",
                filed_date=r.iso_date,
                status=rec["status"].lower(),
                docket_text=rec["docket_text"] or "",
                judge=normalize_judge(rec["judge"]),
                court=normalize_court(rec["court"]),
            )
            for name, role in parse_parties(rec["parties"]):
                norm = normalize_party(name)
                self.party_names.setdefault(norm, name)
                self.parties.setdefault(key, set()).add((norm, role))
        self.runs.append(counts)
        return counts

    def shown(self, c: Case) -> dict:
        """The case's fields as list, search and detail answers show them."""
        return {"case_number": c.case_number, "title": c.title, "filed_date": c.filed_date,
                "judge": self.judges[c.judge] if c.judge else None, "court": self.courts[c.court]}

    def case_parties(self, key: str) -> list[tuple[str, str, str]]:
        """(name, normalized name, role) of a case's parties, ordered by
        role, then name."""
        rows = [(self.party_names[norm], norm, role) for norm, role in self.parties.get(key, ())]
        return sorted(rows, key=lambda r: (r[2], r[0]))

    def quarantine_codes(self, rows: list[Row]) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in rows:
            if r.label is not None:
                out[r.label] = out.get(r.label, 0) + 1
        return out

    def failed_pct(self) -> float:
        read = sum(r["read"] for r in self.runs)
        return sum(r["failed"] for r in self.runs) * 100.0 / read

    def missing_judge_pct(self) -> float:
        return sum(1 for c in self.cases.values() if c.judge is None) * 100.0 / len(self.cases)
