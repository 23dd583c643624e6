"""Output checks shared by the dedup workloads. They take plain Python
values (the collected outputs and the generator's ground truth), so
the self-test can feed them corrupted results without Spark.
"""

from __future__ import annotations

from gen_docs import jaccard, shingles

#: slack for comparing the engine's double Jaccard with Python's
EPS = 1e-9


def pair_problems(texts: dict, pairs: list[tuple], planted: list[tuple],
                  alive: set, threshold: float) -> list[str]:
    """Every reported pair ``(i, j, jaccard)`` has i < j, appears once
    and has exact shingle Jaccard at or above ``threshold`` (precision);
    every planted pair whose documents are both in ``alive`` and whose
    exact Jaccard clears the threshold is reported (recall)."""
    problems = []
    seen = set()
    cache: dict = {}

    def sh(d):
        if d not in cache:
            cache[d] = shingles(texts[d])
        return cache[d]

    for i, j, jac in pairs:
        if not i < j:
            problems.append(f"pair ({i}, {j}) is not ordered i < j")
        if (i, j) in seen:
            problems.append(f"pair ({i}, {j}) reported twice")
        seen.add((i, j))
        exact = jaccard(sh(i), sh(j))
        if exact < threshold - EPS or abs(exact - jac) > 1e-6:
            problems.append(f"pair ({i}, {j}) reports {jac}, exact Jaccard is {exact:.6f}")
    for src, dst, kind in planted:
        if src in alive and dst in alive:
            i, j = min(src, dst), max(src, dst)
            if jaccard(sh(i), sh(j)) >= threshold + EPS and (i, j) not in seen:
                problems.append(f"planted {kind} pair ({i}, {j}) missing")
    return problems


def component_problems(pairs: list[tuple], components: dict) -> list[str]:
    """``components`` maps every endpoint of ``pairs`` (and nothing
    else) to the smallest document id of its connected component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for i, j, _ in pairs:
        a, b = find(i), find(j)
        if a != b:
            parent[max(a, b)] = min(a, b)
    expected = {x: find(x) for x in parent}
    if set(components) != set(expected):
        extra = sorted(set(components) - set(expected))[:3]
        missing = sorted(set(expected) - set(components))[:3]
        return [f"component nodes differ: extra {extra}, missing {missing}"]
    wrong = [x for x in expected if components[x] != expected[x]]
    if wrong:
        x = wrong[0]
        return [f"{len(wrong)} nodes mislabelled; node {x} -> {components[x]}, expected {expected[x]}"]
    return []
