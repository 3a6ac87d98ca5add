import numpy as np

from graph import Graph, bfs_order_errors


def crawl_of(g: Graph):
    """A correct unconstrained crawl's links table: every page, visited,
    ranked in BFS (ascending page id) order with stride gaps."""
    urls = [g.url(p) for p in range(g.n_pages)]
    ranks = np.arange(g.n_pages) * 3 + 7
    return urls, ranks, np.ones(g.n_pages, dtype=bool)


def test_seed_changes_urls_not_page_ids():
    a, b = Graph(300, 8, 4, seed=1), Graph(300, 8, 4, seed=2)
    assert a.salt != b.salt and a.seed_url != b.seed_url
    assert Graph(300, 8, 4, seed=1).url(17) == a.url(17)
    assert a.page_ids([a.url(17), b.url(17)]).tolist() == [17, -1]


def test_correct_crawl_passes():
    g = Graph(200, 4, 3, seed=5)
    assert bfs_order_errors(g, *crawl_of(g)) == []


def test_permuted_order_trips_the_check():
    g = Graph(200, 4, 3, seed=5)
    urls, ranks, visited = crawl_of(g)
    ranks[[10, 11]] = ranks[[11, 10]]
    errors = bfs_order_errors(g, urls, ranks, visited)
    assert any("BFS" in e for e in errors)


def test_missing_foreign_and_unvisited_pages_trip_the_check():
    g = Graph(200, 4, 3, seed=5)
    urls, ranks, visited = crawl_of(g)
    assert any("seen set" in e for e in
               bfs_order_errors(g, urls[:-1], ranks[:-1], visited[:-1]))
    foreign = list(urls)
    foreign[3] = Graph(200, 4, 3, seed=6).url(3)  # another seed's host
    assert any("not graph pages" in e for e in
               bfs_order_errors(g, foreign, ranks, visited))
    visited[50] = False
    assert any("never visited" in e for e in
               bfs_order_errors(g, urls, ranks, visited))
