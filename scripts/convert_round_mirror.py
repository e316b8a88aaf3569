#!/usr/bin/env python3
"""One-shot codemod: convert allowlisted oracle-SQL `round(X, k)` sites
to the Shared.roundSql VARCHAR-mirror form so the DuckDB twin computes
Spark's rendering-HALF_UP kernel instead of DuckDB's multiply-half-away
kernel (the SURVEY §30.4 engine-ambiguity class; evidence in SURVEY
§32.3: 2,860/140,454 synthesized boundary values fire on the native
kernels, 0/140,454 on the mirror).

  round(X, k)  ->  CAST(round(CAST(CAST((X) AS VARCHAR)
                     AS DECIMAL(38,18)), k) AS DOUBLE)

Only `round(` tokens on explicitly allowlisted source lines convert, and
only when the second top-level argument is an integer literal >= 1
(k=0 sites have no inexact 10^k multiply — both kernels provably agree —
and one-arg grid snaps are the same class). Operands that are exact
decimal sums (`sum(CAST(... AS DECIMAL...)`) are skipped even on
allowlisted lines: decimal rounding is exact in both engines.

Rewrites are inline-only (no new lines), so line numbers stay stable
across the whole run; nested sites converge by rescanning after every
single rewrite.
"""
import re
import sys

ALLOW = {
    "src/main/scala/graft/queries/AnalyticsQueries.scala": [
        1481, 1517, 1518, 1545, 1581, 1650, 1654, 1655, 1656, 1658,
        1814, 1938, 1939, 1940, 1954, 2017, 2041,
    ],
    "src/main/scala/graft/queries/ReferenceQueries.scala": [
        720, 725, 740, 741, 757, 822, 823, 824, 854, 855,
    ],
    "src/main/scala/graft/queries/PipelineQueries.scala": [
        1399, 1408, 1534, 1576, 1594, 1642, 1671, 1710, 1711, 1712,
        1717, 1718, 1723, 1724, 1766, 1789, 1790, 1850, 1877, 1913,
        1942, 1958, 2052, 2083, 2198, 2405, 2424, 2457, 2475, 2476,
        2477, 2490, 2499, 2536, 2568, 2635, 2662, 2702, 2730, 2732,
        2831, 2887, 3000, 3136, 3155, 3156, 3174, 3177, 3180, 3197,
        3201, 3203, 3207, 3211, 3231, 3299, 3349, 3350, 3356, 3366,
        3371, 3388, 3389, 3390, 3391, 3392, 3406, 3414, 3464, 3465,
        3466, 3705,
    ],
}

MIRROR_OPEN = "CAST(round(CAST(CAST(("
MID = ") AS VARCHAR) AS DECIMAL(38,18))"
CLOSE_EXTRA = " AS DOUBLE)"


def line_of(text: str, pos: int) -> int:
    return text.count("\n", 0, pos) + 1


def find_site(text: str, allowed: set) -> tuple | None:
    """First allowlisted, unconverted round(X, k>=1) occurrence."""
    for m in re.finditer(r"round\(", text):
        start = m.start()
        if line_of(text, start) not in allowed:
            continue
        # already-converted marker: our own emitted prefix
        if text[max(0, start - len("CAST(")):start + len("round(CAST(CAST((")] \
                == "CAST(" + "round(CAST(CAST((":
            continue
        # paren-match to the top-level comma and the closing paren
        depth, i = 1, m.end()
        comma = None
        while depth > 0:
            c = text[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1 and comma is None:
                comma = i
            i += 1
        end = i - 1  # index of the closing ')'
        if comma is None:
            continue  # one-arg grid snap: k=0 class, safe
        # k may sit on a continuation line behind a stripMargin `|`
        karg = re.sub(r"[\s|]+", "", text[comma + 1:end])
        if not re.fullmatch(r"\d+", karg) or int(karg) < 1:
            continue  # k=0 or non-literal scale: skip
        operand = text[m.end():comma].strip()
        if operand.startswith("sum(CAST("):
            continue  # exact decimal sum: already engine-exact
        return (start, m.end(), comma, end)
    return None


def main() -> None:
    total = 0
    for path, lines in ALLOW.items():
        allowed = set(lines)
        text = open(path).read()
        n = 0
        while True:
            site = find_site(text, allowed)
            if site is None:
                break
            start, open_end, comma, end = site
            text = (text[:start] + MIRROR_OPEN + text[open_end:comma]
                    + MID + text[comma:end + 1] + CLOSE_EXTRA
                    + text[end + 1:])
            n += 1
        open(path, "w").write(text)
        print(f"{path}: {n} sites converted")
        total += n
    print(f"total: {total}")


if __name__ == "__main__":
    main()
