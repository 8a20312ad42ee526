"""String kernels. In Spark plans, prefer the built-in JVM expressions
(F.levenshtein etc.); these numpy versions exist for kernel-side use and
parity tests. Parity: /root/reference/pdftabextract/common.py:255-303."""

import numpy as np


def levenshtein(source: str, target: str) -> int:
    """Edit distance, two-row DP."""
    if len(source) < len(target):
        source, target = target, source
    if len(target) == 0:
        return len(source)
    tgt = np.array(tuple(target))
    prev = np.arange(tgt.size + 1)
    for ch in source:
        cur = prev + 1
        cur[1:] = np.minimum(cur[1:], prev[:-1] + (tgt != ch))
        cur[1:] = np.minimum(cur[1:], cur[:-1] + 1)
        prev = cur
    return int(prev[-1])


def rel_levenshtein(s1: str, s2: str) -> float:
    """Levenshtein normalized by max length, in [0, 1]."""
    maxlen = max(len(s1), len(s2))
    return levenshtein(s1, s2) / float(maxlen) if maxlen > 0 else 0.0


# every character str.isspace() accepts (none lies above U+3000): the set
# str.strip() removes, for the Arrow and Spark trims that must match it
WHITESPACE = "".join(c for c in map(chr, range(0x3001)) if c.isspace())
