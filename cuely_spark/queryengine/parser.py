"""Query-string parser + boolean plan simplification.

Mirrors the reference surface we need (reference:
/root/reference/crates/core/src/query/parser/mod.rs:17,221-247 and
query/plan/mod.rs:235-300) for a single-text-field index:

- bareword        -> Must term(s): the word is run through the same
                     tokenizer as documents; each produced token is a
                     conjunctive (AND) clause.
- field:value     -> attribute filter (the site:/intitle: analog,
                     parser/mod.rs:221-247): matches docs whose indexed
                     attribute term `field:value` exists, but does NOT
                     contribute to the BM25 score. field must be a known
                     attribute name (role, tool, lang, source).
- "quoted phrase" -> Must phrase: tokens must appear adjacent (slop 0).
                     Smart quotes accepted. (parser/mod.rs: phrase incl.
                     smart quotes “”)
- word*           -> prefix term: expands to dictionary terms starting
                     with `word` (the Lucene wildcard-prefix analog /
                     tantivy phrase-prefix building block), same
                     or-group plan shape as fuzzy.
- /pattern/       -> regex term: expands to dictionary terms fully
                     matching the pattern (tantivy RegexQuery analog,
                     crates/tantivy/src/query/regex_query.rs — there a
                     regex automaton over the FST; here a dictionary
                     scan feeding the or-group).
- word~N          -> fuzzy term: expands to dictionary terms within
                     Levenshtein distance N (1..2) via the term-stats
                     table (the tantivy FuzzyTermQuery analog,
                     crates/tantivy/src/query/fuzzy_query/mod.rs —
                     there via an FST Levenshtein automaton; here a
                     driver-side dictionary expansion feeding the same
                     or-group plan shape as compound augmentation).
- "a b"*          -> phrase-prefix: the fixed words must appear as an
                     exact phrase, the position after them matched by
                     ANY dictionary term starting with the last quoted
                     word (tantivy PhrasePrefixQuery,
                     crates/tantivy/src/query/phrase_prefix_query/ —
                     DEFAULT_MAX_EXPANSIONS 50; BM25 weight from the
                     fixed terms only, phrase_prefix_query.rs:95-121).
- "a b"~N         -> near-phrase: total positional slop budget N
                     (tantivy slop phrases,
                     crates/tantivy/src/query/phrase_query/
                     phrase_scorer.rs:349-460; slop capped at 255, the
                     reference's u8 slop carrier).
- -term           -> MustNot: docs containing ALL of the term's tokens
                     are excluded. "--term" escapes to the literal
                     bareword "-term" (parser semantics: `--` escapes).
- term cap        -> MAX_TERMS_PER_QUERY = 32 parser terms
                     (parser/mod.rs:17); term length cap 1024 chars.

Plan simplification (query/plan/node.rs:204-305): duplicate Must clauses
are deduplicated (idempotent AND); `the the the` scores once.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .. import MAX_TERMS_PER_QUERY
from ..tokenizer import tokenize

MAX_TERM_LEN = 1024  # reference: crates/core/src/query/parser/term.rs:17-18
MAX_PHRASE_WORDS = 32
# the reference carries accumulated slop in a u8
# (phrase_scorer.rs:216-230 slops_buffer: Vec<u8>)
MAX_SLOP = 255


#: max edit distance for `word~N` fuzzy terms (Lucene/tantivy
#: FuzzyTermQuery support distances up to 2)
MAX_FUZZY = 2


@dataclass(frozen=True)
class Clause:
    # "term" | "phrase" | "not" | "filter" | "range" |
    # "termset" (one-of term set, const score 1 — tantivy TermSetQuery)
    # "all"     (match every doc, score 1 — tantivy AllQuery)
    # "exists"  (attribute column non-empty — tantivy ExistsQuery)
    kind: str
    tokens: tuple[str, ...]   # normalized tokens (range/exists: (column,))
    slop: int = 0             # phrase clauses only: positional budget
    fuzzy: int = 0            # term clauses only: Levenshtein distance
    prefix: bool = False      # term clauses only: dictionary prefix
    regex: bool = False       # term clauses only: tokens[0] is a regex
    lo: str | None = None     # range clauses: lower bound (as typed)
    hi: str | None = None     # range clauses: upper bound
    lo_inc: bool = True       # range clauses: bound inclusivity
    hi_inc: bool = True
    boost: float = 1.0        # `^N` score multiplier (tantivy
    #                           BoostQuery / Bm25Weight::boost_by)
    neg: bool = False         # exists clauses only: `-field:*`
    field: str | None = None  # scored-field scoping (`title:term` on a
    #                           multi-field index): tokens hold the
    #                           INDEX KEYS ("f:{field}:{token}") so the
    #                           engine treats them as opaque dictionary
    #                           terms; `field` marks the clause for
    #                           per-field stats and augmentation skips


@dataclass
class ParsedQuery:
    clauses: list[Clause] = field(default_factory=list)

    @property
    def positive(self) -> list[Clause]:
        return [c for c in self.clauses if c.kind != "not"]

    @property
    def negative(self) -> list[Clause]:
        return [c for c in self.clauses if c.kind == "not"]

    def all_terms(self) -> list[str]:
        """Distinct terms needed from the index, in first-seen order."""
        seen: dict[str, None] = {}
        for c in self.clauses:
            if c.kind in ("range", "exists", "all"):
                continue  # column names / match-all are not index terms
            for t in c.tokens:
                seen.setdefault(t, None)
        return list(seen)


# opener -> closer; a closing smart quote is NOT an opener
_QUOTES = {'"': '"', "“": "”"}

# attribute-filter fields indexed as synthetic `field:value` terms
FILTER_FIELDS = ("role", "tool", "lang", "source")

# numeric/timestamp columns of the row store queryable as unscored
# range filters (the tantivy fast-field RangeQuery analog,
# crates/tantivy/src/query/range_query/ — there a u64/date fast-field
# scan; here a partition-pruned columnar read of the segment's row
# store). Syntax (whitespace-free so the raw splitter stays simple —
# documented deviation from tantivy's `field:[a TO b]`):
#   col:lo..hi   inclusive both ends
#   col:>x col:>=x col:<x col:<=x
RANGE_FIELDS = ("n_chars", "ts", "turn_idx")


def _range_bound_ok(field: str, v: str) -> bool:
    if field == "ts":
        from datetime import datetime

        try:
            datetime.fromisoformat(v)
            return True
        except ValueError:
            return False
    try:
        float(v)
        return True
    except ValueError:
        return False


def _as_range(raw: str) -> Clause | None:
    """'n_chars:100..200' / 'ts:>=2025-01-01' -> range Clause, else
    None. Bounds are validated here (int/float, or ISO timestamp for
    ts) so a malformed range fails loudly at parse time."""
    if ":" not in raw:
        return None
    field, _, v = raw.partition(":")
    f = field.lower()
    if f not in RANGE_FIELDS or not v:
        return None
    lo = hi = None
    lo_inc = hi_inc = True
    if v.startswith(">="):
        lo = v[2:]
    elif v.startswith(">"):
        lo, lo_inc = v[1:], False
    elif v.startswith("<="):
        hi = v[2:]
    elif v.startswith("<"):
        hi, hi_inc = v[1:], False
    elif ".." in v:
        lo, _, hi = v.partition("..")
    else:
        return None
    if lo is not None and not lo:
        return None
    if hi is not None and not hi:
        return None
    for b in (lo, hi):
        if b is not None and not _range_bound_ok(f, b):
            raise ValueError(f"bad range bound {b!r} for {f!r}")
    return Clause("range", (f,), lo=lo, hi=hi,
                  lo_inc=lo_inc, hi_inc=hi_inc)


def _as_exists(raw: str) -> Clause | None:
    """'tool:*' -> exists Clause (tantivy ExistsQuery,
    crates/tantivy/src/query/exist_query/: docs with a value for the
    field; here: the row-store attribute column is non-null AND
    non-empty). Unscored Must occurrence like filters/ranges."""
    if ":" not in raw:
        return None
    field, _, value = raw.partition(":")
    if field.lower() in FILTER_FIELDS and value == "*":
        return Clause("exists", (field.lower(),))
    return None


def _as_field_term(raw: str, scored_fields: tuple[str, ...]
                   ) -> tuple[str, list[str], bool] | None:
    """'title:merge' -> ("title", ["f:title:merge"], False) when
    `title` is one of the index's extra scored fields — the tantivy
    query-language `field:term` scoping (query_grammar parses a field
    prefix into a per-field TermQuery scored with THAT field's
    statistics). Extra-field postings are keyed "f:{field}:{token}"
    (indexer/segment.py), so the clause carries the index keys and the
    rest of the engine treats them as ordinary dictionary terms.
    A trailing `*` makes it a per-field prefix expansion (the keyed
    dictionary is sorted, so the range prune works unchanged).
    Fuzzy/regex markers in the value are rejected loudly — silently
    tokenizing them away would turn `title:merge~1` into the dead
    conjunction (title:merge AND title:1)."""
    if ":" not in raw or not scored_fields:
        return None
    name, _, value = raw.partition(":")
    f = name.lower()
    if f not in scored_fields or not value or value.isspace():
        return None
    if "~" in value or value.startswith("/"):
        raise ValueError(
            f"field-scoped terms support plain terms and `*` prefix "
            f"only, got {raw!r}")
    prefix = False
    if value.endswith("*") and len(value) > 1:
        value, prefix = value[:-1], True
    toks = tokenize(value)
    if not toks:
        return None
    if prefix and len(toks) != 1:
        raise ValueError(
            f"field prefix takes a single token, got {raw!r}")
    return f, [f"f:{f}:{t}" for t in toks], prefix


def _as_filter(raw: str) -> str | None:
    """'role:user' -> normalized filter term, else None."""
    if ":" not in raw:
        return None
    field, _, value = raw.partition(":")
    if field.lower() in FILTER_FIELDS and value and not value.isspace():
        return f"{field.lower()}:{value.lower()}"
    return None


def _lower_regex_literals(pat: str) -> str:
    """Lowercase only LITERAL characters of a regex pattern.

    The indexed dictionary is lowercase, so literal letters in a
    `/pattern/` term must fold to match it — but a blanket .lower()
    corrupts escape semantics (`\\S` -> `\\s` inverts the class,
    `\\B` -> `\\b`, `\\W` -> `\\w`). Walk the pattern and preserve any
    backslash escape verbatim, lowercasing everything else."""
    out: list[str] = []
    i, n = 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "\\" and i + 1 < n:
            out.append(c)
            out.append(pat[i + 1])
            i += 2
        else:
            out.append(c.lower())
            i += 1
    return "".join(out)


def _raw_split(q: str) -> list[str]:
    """Split into raw parser terms, keeping quoted phrases intact."""
    out: list[str] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            continue
        if q.startswith("--", i) and i + 2 < n and q[i + 2] in _QUOTES:
            # an escaped-minus phrase (`--"a b"`): the `--` escape's
            # literal `-` term, then the phrase as if it stood alone
            out.append("--")
            i += 2
            continue
        # a quoted phrase, or a negated one (`-"a b"`), kept whole so
        # that parse_query can refuse it
        neg = c == "-" and i + 1 < n and q[i + 1] in _QUOTES
        if neg or c in _QUOTES:
            i += neg
            close = _QUOTES[q[i]]
            j = i + 1
            while j < n and q[j] not in (close, '"', "”", "“"):
                j += 1
            raw = '"' + q[i + 1:j] + '"'
            i = j + 1
            # absorb a `~N` slop or `*` prefix suffix glued to the
            # closing quote
            if i < n and q[i] == "~":
                m = i + 1
                while m < n and q[m].isdigit():
                    m += 1
                if m > i + 1:
                    raw += q[i:m]
                    i = m
            elif i < n and q[i] == "*":
                raw += "*"
                i += 1
            # then a `^FLOAT` boost glued on ("a b"^2, "a b"~3^1.5)
            if i < n and q[i] == "^":
                m = i + 1
                while m < n and (q[m].isdigit() or q[m] == "."):
                    m += 1
                if m > i + 1:
                    raw += q[i:m]
                    i = m
            out.append("-" * neg + raw)
        else:
            j = i
            while j < n and not q[j].isspace():
                if q[j] in _QUOTES and j > i and q[j - 1] == ":":
                    # field-scoped phrase (`title:"a b"~2^1.5`): absorb
                    # the quoted span plus any glued ~N / * / ^FLOAT
                    # suffixes into this raw
                    close = _QUOTES[q[j]]
                    j += 1
                    while j < n and q[j] not in (close, '"', "”", "“"):
                        j += 1
                    j = min(j + 1, n)
                    if j < n and q[j] == "~":
                        m = j + 1
                        while m < n and q[m].isdigit():
                            m += 1
                        if m > j + 1:
                            j = m
                    elif j < n and q[j] == "*":
                        j += 1
                    if j < n and q[j] == "^":
                        m = j + 1
                        while m < n and (q[m].isdigit() or q[m] == "."):
                            m += 1
                        if m > j + 1:
                            j = m
                    break
                j += 1
            out.append(q[i:j])
            i = j
    return out


#: trailing `^FLOAT` boost suffix (Lucene/tantivy boost syntax). The
#: float must be the LAST thing in the raw term; `a^b` is not a boost.
_BOOST_RE = re.compile(r"\^(\d+(?:\.\d+)?)$")


def _split_boost(raw: str) -> tuple[str, float]:
    """Strip a trailing `^FLOAT` boost (tantivy BoostQuery; the parser
    attaches it to whatever clause the rest of the raw produces).
    Unscored clauses (not/filter/range/exists) parse-and-discard it —
    boosting an unscored occurrence is a no-op, as in tantivy where a
    boosted MustNot still contributes no score."""
    m = _BOOST_RE.search(raw)
    if m is None or m.start() == 0:
        return raw, 1.0
    return raw[:m.start()], float(m.group(1))


def parse_query(q: str,
                scored_fields: tuple[str, ...] = ()) -> ParsedQuery:
    """Parse a query string. `scored_fields`: names of the index's
    extra scored text fields (field_cols) — `name:value` tokens over
    these become field-scoped scored term clauses (tantivy
    `field:term`); without it (or for unknown names) the historical
    behavior stands: the raw splits into plain AND'd terms."""
    if q is None or not q.strip():
        raise ValueError("empty query")  # reference: query/mod.rs:82-85
    scored_fields = tuple(s.lower() for s in scored_fields or ())
    clauses: list[Clause] = []
    raws = _raw_split(q)[:MAX_TERMS_PER_QUERY]
    for raw in raws:
        raw = raw[:MAX_TERM_LEN]
        raw, boost = _split_boost(raw)
        slop = 0
        pprefix = False
        pfield = None
        if scored_fields and ":" in raw and not raw.startswith('"'):
            # field-scoped phrase `title:"a b"(~N|*)`: strip the field
            # prefix and normalize the quotes; the ordinary phrase
            # machinery below then applies with keyed tokens (field
            # postings carry field-stream positions, so adjacency /
            # slop / prefix all work unchanged)
            name, _, rest = raw.partition(":")
            if name.lower() in scored_fields and rest[:1] in _QUOTES:
                pfield = name.lower()
                kc = rest.find(_QUOTES[rest[0]], 1)
                if kc == -1:  # unterminated: body runs to the end
                    raw = '"' + rest[1:] + '"'
                else:
                    raw = '"' + rest[1:kc] + '"' + rest[kc + 1:]
        if raw.startswith('"') and raw.endswith('"*') and len(raw) > 3:
            raw, pprefix = raw[:-1], True
        elif raw.startswith('"') and "~" in raw \
                and not raw.endswith('"'):
            body, _, suffix = raw.rpartition("~")
            if body.endswith('"') and suffix.isdigit():
                raw, slop = body, min(int(suffix), MAX_SLOP)
        if raw.startswith('"') and raw.endswith('"') and len(raw) >= 2:
            toks = tuple(tokenize(raw[1:-1])[:MAX_PHRASE_WORDS])
            if pfield is not None:
                toks = tuple(f"f:{pfield}:{t}" for t in toks)
            if len(toks) == 1:
                # single-word phrase-prefix collapses to a prefix term
                clauses.append(Clause("term", toks, prefix=pprefix,
                                      boost=boost, field=pfield))
            elif toks:
                clauses.append(Clause("phrase", toks, slop,
                                      prefix=pprefix, boost=boost,
                                      field=pfield))
        elif raw == "*":
            # match-all (tantivy AllQuery, crates/tantivy/src/query/
            # all_query.rs: every doc scores 1.0 × boost). Composes
            # with ranges/filters/exists: `* n_chars:>100`.
            clauses.append(Clause("all", (), boost=boost))
        elif raw.startswith("--"):
            # escaped literal "-term": same one-clause-per-token shape as
            # the bareword branch ('term' clauses are single-token)
            for t in tokenize(raw[1:]):
                clauses.append(Clause("term", (t,), boost=boost))
        elif raw.startswith("-") and len(raw) > 1:
            if raw[1] == '"':
                raise ValueError(
                    f"negated phrase {raw!r} is not supported: a MustNot "
                    "clause excludes docs holding all its words, not a "
                    "phrase")
            if (ex := _as_exists(raw[1:])) is not None:
                # `-tool:*` — docs where the attribute is unset/empty
                clauses.append(Clause("exists", ex.tokens, neg=True))
                continue
            filt = _as_filter(raw[1:])
            if filt is not None:
                clauses.append(Clause("not", (filt,)))
            elif (nft := _as_field_term(raw[1:],
                                        scored_fields)) is not None:
                # `-title:foo` — exclude docs containing the term(s)
                # in THAT field (keys are opaque to the kernel's
                # mustnot groups, so this needs no executor change)
                fname, keys, pfx = nft
                if pfx:
                    raise ValueError(
                        "prefix expansion is not supported in a "
                        f"negated field term: {raw!r}")
                clauses.append(Clause("not", tuple(keys), field=fname))
            else:
                toks = tuple(tokenize(raw[1:]))
                if toks:
                    clauses.append(Clause("not", toks))
        elif (ex := _as_exists(raw)) is not None:
            clauses.append(ex)
        elif (rng := _as_range(raw)) is not None:
            clauses.append(rng)
        elif (filt := _as_filter(raw)) is not None:
            clauses.append(Clause("filter", (filt,)))
        elif (ft := _as_field_term(raw, scored_fields)) is not None:
            # field-scoped scored term(s): `title:foo-bar^2` AND's a
            # boosted term clause per value token, each scored with the
            # FIELD's own df/avg-fieldnorm (tantivy TermQuery on a
            # named field)
            fname, keys, pfx = ft
            for kk in keys:
                clauses.append(Clause("term", (kk,), prefix=pfx,
                                      boost=boost, field=fname))
        elif raw.startswith("/") and raw.endswith("/") and len(raw) > 2:
            import re as _re

            pat = _lower_regex_literals(raw[1:-1])
            try:
                _re.compile(pat)
            except _re.error as e:
                raise ValueError(f"bad regex term {raw!r}: {e}") from e
            clauses.append(Clause("term", (pat,), regex=True,
                                  boost=boost))
        elif (raw.endswith("*") and len(raw) > 1
              and len(tokenize(raw[:-1])) == 1):
            clauses.append(Clause("term", tuple(tokenize(raw[:-1])),
                                  prefix=True, boost=boost))
        elif (ts := _as_termset(raw)) is not None:
            clauses.append(Clause("termset", ts, boost=boost))
        else:
            # bareword `word~N` -> fuzzy term (Levenshtein distance N,
            # the tantivy FuzzyTermQuery / Lucene `term~N` analog);
            # only when the base tokenizes to ONE token
            fuzzy = 0
            if "~" in raw and not raw.endswith("~"):
                base, _, suffix = raw.rpartition("~")
                if base and suffix.isdigit():
                    btoks = tokenize(base)
                    if len(btoks) == 1:
                        raw, fuzzy = base, min(int(suffix), MAX_FUZZY)
            for t in tokenize(raw):
                clauses.append(Clause("term", (t,), fuzzy=fuzzy,
                                      boost=boost))
                fuzzy = 0
    # boolean simplification: idempotent AND — drop duplicate clauses
    # (reference: query/plan/node.rs:124-135 deduplicate())
    seen: set[tuple] = set()
    dedup: list[Clause] = []
    for c in clauses:
        key = (c.kind, c.tokens, c.slop, c.fuzzy, c.prefix, c.regex,
               c.lo, c.hi, c.lo_inc, c.hi_inc, c.boost, c.neg)
        if key not in seen:
            seen.add(key)
            dedup.append(c)
    pq = ParsedQuery(dedup)
    if not pq.positive:
        raise ValueError("query has no positive clauses")
    if all(c.kind in ("range", "exists") for c in pq.positive):
        # candidate enumeration needs a membership source: postings
        # (term/phrase/filter/termset) or the match-all row-store scan.
        raise ValueError(
            "range/exists filters need a term/phrase/filter clause or "
            "an explicit `*` match-all")
    return pq


def _as_termset(raw: str) -> tuple[str, ...] | None:
    """'a|b|c' -> one-of member tuple (tantivy TermSetQuery,
    crates/tantivy/src/query/set_query.rs: matches docs containing ANY
    member, const score 1.0 — its weight uses a DoNothingCombiner, the
    query's own tests assert score == 1.0). Only when every
    |-separated part tokenizes to exactly one term; otherwise the raw
    falls through to the bareword path."""
    if "|" not in raw or raw.startswith("/"):
        return None
    parts = raw.split("|")
    if len(parts) < 2 or any(not p for p in parts):
        return None
    members: list[str] = []
    for p in parts:
        toks = tokenize(p)
        if len(toks) != 1:
            return None
        members.append(toks[0])
    return tuple(dict.fromkeys(members))


# reference: crates/core/src/query/mod.rs:43
MAX_TERMS_FOR_NGRAM_LOOKUPS = 16


def compound_alternatives(pq: ParsedQuery,
                          ngram_max: int) -> dict[int, list[str]]:
    """clause-index (into pq.clauses) -> compound alternative terms.

    Mirrors the reference's sliding-window compound augmentation
    (crates/core/src/query/plan/mod.rs:223-300): for every simple term
    clause i, windows (start, end) = ((i+off)-w, i+off) for w in 2..=3,
    off in 0..=w; the window's compound is the concatenation of the
    simple-term tokens at positions start..=end (non-simple positions
    are skipped, exactly like `terms_for_adjacent.get(k)` matching only
    Simple terms). Each compound is looked up in every compound field
    present — here the "b:" bigram and (ngram_max>=3) "t:" trigram
    shadow-term namespaces. Skipped entirely when the query has more
    than MAX_TERMS_FOR_NGRAM_LOOKUPS clauses.
    """
    out: dict[int, list[str]] = {}
    clauses = pq.clauses
    if ngram_max < 2 or len(clauses) > MAX_TERMS_FOR_NGRAM_LOOKUPS:
        return out
    prefixes = ["b:"] + (["t:"] if ngram_max >= 3 else [])
    for i, c in enumerate(clauses):
        if c.kind != "term" or c.field:
            continue  # field-scoped terms live in their own namespace
        alts: list[str] = []
        seen: set[str] = set()
        for w in (2, 3):
            for off in range(w + 1):
                start = max(0, (i + off) - w)
                end = i + off
                if start >= end:
                    continue
                toks = [clauses[k].tokens[0]
                        for k in range(start, end + 1)
                        if k < len(clauses) and clauses[k].kind == "term"
                        and not clauses[k].field]
                if not toks:
                    continue
                # 1-token windows (non-simple neighbors shrank them) are
                # KEPT like the reference (!compounds.is_empty(),
                # plan/mod.rs:223-300): "b:term" is a distinct shadow
                # term — indexed only for docs whose whole field is that
                # token (the ngram.rs short-doc fill) — and ORing it
                # adds score for those docs
                compound = "".join(toks)
                for pre in prefixes:
                    t = pre + compound
                    if t not in seen:
                        seen.add(t)
                        alts.append(t)
        if alts:
            out[i] = alts
    return out
