"""Pure-Python reference for dedup.dup_clusters: connected components of
a pair list by union-find, labelled by each component's min member."""


def component_labels(pairs) -> list:
    """Sorted (member, cluster) with cluster = the component's min member,
    over every id that appears in `pairs` (a self-pair is a singleton)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)
