"""Pure-Python English Snowball stemmer ("Porter2", Porter 2001).

The reference stems with NLTK's ``SnowballStemmer("english")`` inside a
row-at-a-time Python UDF (reference: PAC/passiveAgressiveModel.py:64-66).
NLTK is not available in this environment, so the engine ships its own
implementation, written from the published algorithm description
(snowballstem.org/algorithms/english/stemmer.html — the public spec),
not from any existing code base.

Porter2 differs from the original 1980 Porter algorithm in, among
others:

* exceptional forms (dying→die, news→news, proceed→proceed, …)
* step-1a ies/ied → ie for short stems (ties→tie, not ti)
* step-1a s-deletion requires a vowel NOT immediately before the s
  (gas→gas, this→this — Porter gives ga/thi)
* consonant-y marking (boy→boy, not boi; cry→cri, not cry)
* extra step-2 rules: li-deletion (quickly→quick), ogi→og
  (geology→geolog), bli/lessli/fulli
* R1/R2 regions replace Porter's measure m, with special prefixes
  gener-/commun-/arsen-

A goldens fixture in tests/test_text.py pins per-word behavior,
including every class above, so divergence from the reference's NLTK
Snowball output is test-visible rather than silent.
"""

from __future__ import annotations

_VOWELS = "aeiouy"  # after marking, consonant y is 'Y' (not in this set)
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_LI_VALID = "cdeghkmnrt"

# Exceptional forms, applied before any step.
_EXCEPTIONS = {
    "skis": "ski",
    "skies": "sky",
    "dying": "die",
    "lying": "lie",
    "tying": "tie",
    "idly": "idl",
    "gently": "gentl",
    "ugly": "ugli",
    "early": "earli",
    "only": "onli",
    "singly": "singl",
    "sky": "sky",
    "news": "news",
    "howe": "howe",
    "atlas": "atlas",
    "cosmos": "cosmos",
    "bias": "bias",
    "andes": "andes",
}

# Invariant after step 1a.
_EXCEPTIONS_POST_1A = frozenset(
    ("inning", "outing", "canning", "herring", "earring", "proceed", "exceed", "succeed")
)

# Step 2/3/4 suffix tables, ordered longest-first so linear scan
# implements Snowball's longest-match rule.
_STEP2 = (
    ("ization", "ize"),
    ("ational", "ate"),
    ("fulness", "ful"),
    ("ousness", "ous"),
    ("iveness", "ive"),
    ("tional", "tion"),
    ("biliti", "ble"),
    ("lessli", "less"),
    ("entli", "ent"),
    ("ation", "ate"),
    ("alism", "al"),
    ("aliti", "al"),
    ("ousli", "ous"),
    ("iviti", "ive"),
    ("fulli", "ful"),
    ("enci", "ence"),
    ("anci", "ance"),
    ("abli", "able"),
    ("izer", "ize"),
    ("ator", "ate"),
    ("alli", "al"),
    ("bli", "ble"),
    ("ogi", "og"),  # only when preceded by l
    ("li", ""),  # only after a valid li-ending
)

_STEP3 = (
    ("ational", "ate"),
    ("tional", "tion"),
    ("alize", "al"),
    ("icate", "ic"),
    ("iciti", "ic"),
    ("ative", ""),  # only when in R2
    ("ical", "ic"),
    ("ness", ""),
    ("ful", ""),
)

_STEP4 = (
    "ement",
    "ance",
    "ence",
    "able",
    "ible",
    "ment",
    "ant",
    "ent",
    "ism",
    "ate",
    "iti",
    "ous",
    "ive",
    "ize",
    "ion",  # only when preceded by s or t
    "al",
    "er",
    "ic",
)


def _mark_consonant_ys(w: str) -> str:
    chars = list(w)
    if chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _VOWELS:
            chars[i] = "Y"
    return "".join(chars)


def _region_after(word: str, start: int) -> int:
    """Index just past the first non-vowel that follows a vowel, looking
    only at pairs fully inside word[start:]; len(word) if none (the
    Snowball R1/R2 construction)."""
    for i in range(start + 1, len(word)):
        if word[i] not in _VOWELS and word[i - 1] in _VOWELS:
            return i + 1
    return len(word)


def _r1(word: str) -> int:
    for p in ("gener", "commun", "arsen"):
        if word.startswith(p):
            return len(p)
    return _region_after(word, 0)


def _ends_short_syllable(word: str) -> bool:
    if len(word) == 2:
        return word[0] in _VOWELS and word[1] not in _VOWELS
    if len(word) >= 3:
        return (
            word[-3] not in _VOWELS
            and word[-2] in _VOWELS
            and word[-1] not in _VOWELS
            and word[-1] not in "wxY"
        )
    return False


def _is_short(word: str, r1: int) -> bool:
    return r1 >= len(word) and _ends_short_syllable(word)


def _has_vowel(s: str) -> bool:
    return any(c in _VOWELS for c in s)


def snowball_stem(word: str) -> str:  # noqa: C901 — the algorithm is a case ladder
    w = word.lower()
    if w.startswith("'"):
        w = w[1:]
    if len(w) <= 2:
        return w
    if w in _EXCEPTIONS:
        return _EXCEPTIONS[w]
    w = _mark_consonant_ys(w)
    r1 = _r1(w)
    r2 = _region_after(w, r1)

    # step 0: strip possessive apostrophes
    for suf in ("'s'", "'s", "'"):
        if w.endswith(suf):
            w = w[: -len(suf)]
            break

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-3] + ("i" if len(w) > 4 else "ie")
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s"):
        if _has_vowel(w[:-2]):  # vowel NOT immediately before the s
            w = w[:-1]

    if w in _EXCEPTIONS_POST_1A:
        return w

    # step 1b
    if w.endswith(("eedly", "eed")):
        suf = "eedly" if w.endswith("eedly") else "eed"
        if len(w) - len(suf) >= r1:
            w = w[: -len(suf)] + "ee"
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if w.endswith(suf):
                stem = w[: -len(suf)]
                if _has_vowel(stem):
                    w = stem
                    if w.endswith(("at", "bl", "iz")):
                        w += "e"
                    elif w[-2:] in _DOUBLES:
                        w = w[:-1]
                    elif _is_short(w, r1):
                        w += "e"
                break

    # step 1c: y/Y → i after a non-vowel that isn't the first letter
    if len(w) > 2 and w[-1] in "yY" and w[-2] not in _VOWELS:
        w = w[:-1] + "i"

    # step 2 (longest suffix; action only if suffix lies in R1)
    for suf, repl in _STEP2:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ogi":
                    if len(w) >= 4 and w[-4] == "l":
                        w = w[:-1]  # ogi → og
                elif suf == "li":
                    if len(w) >= 3 and w[-3] in _LI_VALID:
                        w = w[:-2]
                else:
                    w = w[: -len(suf)] + repl
            break

    # step 3 (in R1; ative additionally requires R2)
    for suf, repl in _STEP3:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ative":
                    if len(w) - len(suf) >= r2:
                        w = w[: -len(suf)]
                else:
                    w = w[: -len(suf)] + repl
            break

    # step 4 (in R2; ion only after s/t)
    for suf in _STEP4:
        if w.endswith(suf):
            if len(w) - len(suf) >= r2:
                if suf == "ion":
                    if len(w) >= 4 and w[-4] in "st":
                        w = w[:-3]
                else:
                    w = w[: -len(suf)]
            break

    # step 5
    if w.endswith("e"):
        if len(w) - 1 >= r2 or (len(w) - 1 >= r1 and not _ends_short_syllable(w[:-1])):
            w = w[:-1]
    elif w.endswith("l"):
        if len(w) - 1 >= r2 and len(w) >= 2 and w[-2] == "l":
            w = w[:-1]

    return w.replace("Y", "y")
