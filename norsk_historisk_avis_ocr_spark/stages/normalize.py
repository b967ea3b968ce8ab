"""Trie-based historical-Norwegian orthography normalization (X4′).

Deterministic analog of the reference's LLM correction pass
(``engines/_correction.py:126-168``; confusion rules listed in the prompt at
``engines/_correction.py:21-27``: rn→m, li→h, cl→d, ø→o, æ→ae confusions,
never delete words, preserve 1950s orthography such as «bleven»/«hvad»).

Instead of a network call, normalization is a longest-match-first lookup in a
token-sequence **trie** built from a rewrite table. The table is small and
broadcast to executors (see ``functions/udfs.py``); lookups are pure and the
output is deterministic, so the per-url byte-identity contract holds.

Semantics:

- tokens are whitespace-delimited; leading/trailing punctuation is detached
  before lookup and re-attached after, so «rnann», (rnann) and rnann. all
  normalize their core;
- multi-token entries win over shorter ones (longest match first at each
  position — classic trie walk);
- a *preserve set* short-circuits lookup: 1950s forms the reference's prompt
  explicitly protects are never rewritten;
- capitalization of the source token is re-applied to the replacement
  (Rnann → Mann);
- word count is never reduced unless a multi-token rule says so — mirroring
  the prompt's "NEVER delete words" rule.
"""

from __future__ import annotations

import re

# Characters considered token-edge punctuation (kept, not normalized).
_PUNCT = ".,;:!?«»\"'()[]{}-–—"

_WS_SPLIT = re.compile(r"(\s+)")


class _TrieNode:
    __slots__ = ("children", "value")

    def __init__(self):
        self.children: dict[str, _TrieNode] = {}
        self.value: str | None = None


class OrthographyNormalizer:
    """Longest-match-first token-sequence rewriter backed by a trie."""

    def __init__(self, table: dict[str, str], preserve: set[str] | frozenset[str] = frozenset()):
        self._root = _TrieNode()
        self._preserve = {w.lower() for w in preserve}
        self._max_len = 1
        for phrase, repl in table.items():
            toks = phrase.lower().split()
            if not toks:
                continue
            self._max_len = max(self._max_len, len(toks))
            node = self._root
            for t in toks:
                node = node.children.setdefault(t, _TrieNode())
            node.value = repl
        # tokens that can possibly start a rewrite (trie heads minus the
        # preserve set — preserve wins before any trie walk)
        self._candidates: set[str] = set(self._root.children) - self._preserve

    # -- table export (for broadcasting a plain dict instead of the object) --
    def to_table(self) -> tuple[dict[str, str], set[str]]:
        out: dict[str, str] = {}

        def walk(node: _TrieNode, prefix: list[str]):
            if node.value is not None:
                out[" ".join(prefix)] = node.value
            for tok, child in node.children.items():
                walk(child, prefix + [tok])

        walk(self._root, [])
        return out, set(self._preserve)

    def normalize_framed(self, transcribed: str) -> str:
        """Normalize the flowing body of a transcribed text while
        preserving the trailing-newline framing byte-for-byte — the
        correction-pass input framing
        (``tesseract_claude_engine.py:108-122``). Single source of truth
        for the X4 pass in ``extract_one``."""
        if transcribed.endswith("\n"):
            return self.normalize(transcribed[:-1]) + "\n"
        return self.normalize(transcribed)

    @staticmethod
    def _split_token(token: str) -> tuple[str, str, str]:
        start = 0
        end = len(token)
        while start < end and token[start] in _PUNCT:
            start += 1
        while end > start and token[end - 1] in _PUNCT:
            end -= 1
        return token[:start], token[start:end], token[end:]

    @staticmethod
    def _match_case(src: str, repl: str) -> str:
        if src.isupper() and len(src) > 1:
            return repl.upper()
        if src[:1].isupper():
            return repl[:1].upper() + repl[1:]
        return repl

    def normalize(self, text: str) -> str:
        """Rewrite token by token. Tokens are maximal non-whitespace runs;
        the original whitespace (spaces, newlines, blank-line section
        separators) is preserved byte-for-byte. A multi-token phrase match
        collapses its interior whitespace into the single replacement.

        Hot-path shape: non-matching stretches are copied as slices of the
        token/separator ``parts`` list (C-speed ``extend``) instead of
        token-by-token appends.
        """
        parts = _WS_SPLIT.split(text)
        # parts alternates token, sep, token, ... (2n-1 entries: a sep
        # follows every token except the last; possibly empty edges)
        tokens = parts[0::2]
        # str.strip(chars) == _split_token's core extraction, at C speed —
        # the full (pre, core, post) split is only needed on actual matches
        cores = [tok.strip(_PUNCT).lower() for tok in tokens]

        # A token can start a rewrite only if its core heads some trie entry
        # AND is not preserved (preserve is checked before the trie, so a
        # preserved head can never match) — one set lookup rejects the
        # copy-verbatim majority of tokens.
        candidates = self._candidates
        if candidates.isdisjoint(cores):
            return text  # nothing can match: the output is the input

        preserve = self._preserve
        root_children = self._root.children
        out: list[str] = []
        last = 0  # index into parts of the first not-yet-copied entry
        n = len(tokens)
        # the copy-verbatim majority is skipped wholesale: only trie-head
        # positions are visited (comprehension beats a per-token while loop)
        min_i = 0
        for i in [k for k, c in enumerate(cores) if c in candidates]:
            if i < min_i:  # swallowed by a previous multi-token match
                continue
            # longest trie match starting at i over the punctuation-stripped
            # lowercase cores
            node_children = root_children
            best_len = 0
            best_val: str | None = None
            j = i
            while j < n:
                node = node_children.get(cores[j])
                if node is None:
                    break
                node_children = node.children
                j += 1
                if node.value is not None:
                    best_len = j - i
                    best_val = node.value
            if best_val is None or any(cores[k] in preserve for k in range(i, i + best_len)):
                continue
            # copy the untouched stretch, then the rewritten token run
            # (interior separators collapse; the one after the last matched
            # token is kept — same contract as the append-per-token form)
            out.extend(parts[last:2 * i])
            pre, first_core, _ = self._split_token(tokens[i])
            _, _, post = self._split_token(tokens[i + best_len - 1])
            out.append(pre + self._match_case(first_core, best_val) + post)
            last = 2 * (i + best_len) - 1
            min_i = i + best_len
        if not out:
            return text  # candidates present but nothing matched
        out.extend(parts[last:])
        return "".join(out)


# OCR confusion-pair classes from the reference's correction prompt
# (``_correction.py:21-22``): what the OCR *misreads* → what was printed.
# Each (bad, good) substring pair generates rewrite variants over a lexicon.
CONFUSION_PAIRS: list[tuple[str, str]] = [
    ("rn", "m"), ("li", "h"), ("cl", "d"), ("ii", "u"), ("vv", "w"),
    ("o", "ø"), ("ae", "æ"), ("aa", "å"),
]


def build_confusion_table(lexicon: list[str],
                          pairs: list[tuple[str, str]] = CONFUSION_PAIRS,
                          vocab: set[str] | None = None,
                          ) -> dict[str, str]:
    """Expand a lexicon of *correct* historical-Norwegian words into a
    rewrite table: for each word, every single substitution of a confusion
    pair applied in reverse (good → bad) yields a plausible OCR misreading
    that maps back to the word.

    Deterministic; collisions (a misreading reachable from two words, or a
    misreading that is itself a lexicon word) are dropped — the correction
    prompt's "if ambiguous, leave as-is" rule (``_correction.py:28-31``).

    ``vocab``: optional wider set of known-real words that also veto
    variants. Essential for corpus-induced lexicons: a variant of a
    frequent word may itself be a real but rarer word (``korn`` is an
    rn→m misreading shape of ``kom``) — without the veto every legitimate
    occurrence would be rewritten corpus-wide.
    """
    lex = set(lexicon)
    if vocab:
        lex = lex | vocab
    table: dict[str, str] = {}
    ambiguous: set[str] = set()
    for word in lexicon:
        for bad, good in pairs:
            start = 0
            while True:
                i = word.find(good, start)
                if i < 0:
                    break
                variant = word[:i] + bad + word[i + len(good):]
                start = i + 1
                if variant == word or variant in lex:
                    continue
                if variant in table and table[variant] != word:
                    ambiguous.add(variant)
                    continue
                table[variant] = word
    for v in ambiguous:
        table.pop(v, None)
    return table


# Common 1950s-register Norwegian words whose confusion variants the
# default table covers (the reference prompt's example classes).
DEFAULT_LEXICON: list[str] = [
    "mann", "menn", "samme", "kommer", "med", "hjem", "sommer", "mot",
    "normal", "morgen", "mellom", "time", "fram", "ham", "dem", "om",
    "har", "han", "hele", "hus", "hva", "hvor", "hennes", "holder",
    "det", "den", "der", "dag", "din", "du", "dere", "drar",
    "først", "større", "høyere", "sjø", "kjøpe", "gjøre", "møte", "øre",
    "være", "nærmere", "lærer", "bærer", "færre", "kjærlighet",
    "år", "båt", "måtte", "språk", "nå", "står",
    "avis", "nyheter", "kommune", "regjeringen", "stortinget",
    # extended 1950s-register set (round 1 widening)
    "mange", "menneske", "mennesker", "gammel", "gamle", "sammen",
    "kommet", "rommet", "timer", "hammer", "nummer", "temmelig",
    "hans", "havn", "havet", "himmel", "historie", "høst", "hverandre",
    "dette", "disse", "derfor", "dessuten", "dermed", "desember",
    "større", "døren", "kjøre", "høre", "løpe", "søndag", "lørdag",
    "næring", "ærlig", "vær", "sær", "tjære",
    "gård", "hår", "mål", "måned", "påske", "småbruk", "våren",
    "byen", "landet", "folket", "kongen", "kirken", "skolen",
    "arbeidet", "styret", "møtet", "saken", "loven", "retten",
    # round-2 widening: common newspaper-register nouns/verbs/function
    # words whose confusion variants OCR plausibly produces
    "melding", "formann", "medlem", "medlemmer", "forsamling",
    "komiteen", "nemnda", "ordfører", "fylket", "herredet", "bygda",
    "gammelt", "omkring", "imidlertid", "dermed", "omtrent", "mellomtiden",
    "hvilket", "hvordan", "hvorfor", "hvert", "hvis", "behandling",
    "handel", "husmor", "heller", "halvparten", "hundre", "havre",
    "dyr", "dessverre", "departementet", "direktør", "domstol",
    "først", "fjorden", "forslaget", "fløte", "søknad", "øvrige",
    "økning", "høsten", "kjøtt", "mjølk", "løsning", "strøm",
    "lærerinne", "værelse", "nevnte", "erklæring", "forretning",
    "måndag", "årsmøte", "våre", "återstår", "påbud", "innhold",
    "prisene", "varene", "skatten", "budsjettet", "veien", "jernbanen",
    "dampskip", "telegram", "redaksjonen", "trykkeri", "annonse",
]

# Default rewrite table: OCR confusion fixes mirroring the reference prompt's
# rule classes (rn→m, li→h, cl→d, ø→o, æ→ae, doubled/missing letters) applied
# to common 1950s Norwegian words, as whole-token rewrites.
DEFAULT_TABLE: dict[str, str] = {
    # rn → m
    "rnann": "mann", "sarnme": "samme", "kornmer": "kommer", "rned": "med",
    "hjern": "hjem", "sornmer": "sommer", "rnot": "mot", "norrnal": "normal",
    # li → h (misread ascender pairs)
    "liar": "har", "lian": "han", "liele": "hele", "lius": "hus",
    # cl → d
    "clet": "det", "clen": "den", "cler": "der", "clag": "dag",
    # o → ø mis-OCR (ring lost)
    "forst": "først", "storre": "større", "hoyere": "høyere", "sjo": "sjø",
    # ae → æ (ligature split by OCR)
    "naermere": "nærmere", "laerer": "lærer", "vaere": "være", "baerer": "bærer",
    # doubled/missing letters
    "kommmune": "kommune", "stortinget": "stortinget", "regjeringen": "regjeringen",
    "aviss": "avis", "nyhetter": "nyheter",
    # multi-token OCR splits
    "i dag morges": "idagmorges",
    "for di": "fordi",
}

# 1950s orthography the prompt explicitly preserves («bleven» not «blitt»,
# «hvad» not «hva») — plus common pre-reform forms of that register.
DEFAULT_PRESERVE: frozenset[str] = frozenset({
    "bleven", "hvad", "nu", "efter", "sprog", "sproget", "syv", "tyve",
    "mellem", "frem", "sne", "farve",
})


def default_normalizer() -> OrthographyNormalizer:
    """Hand-curated table + systematic confusion expansion of the default
    lexicon; explicit entries win over generated ones."""
    table = build_confusion_table(DEFAULT_LEXICON)
    table.update(DEFAULT_TABLE)
    return OrthographyNormalizer(table, DEFAULT_PRESERVE)
