"""Stub endpoints for the ETL workload. The enrichment fetcher runs in
Spark's Python workers, which import this module to unpickle it, so it
imports nothing."""


class EnrichFetcher:
    """Stub rijksmonument service. Raises for the corpus's failing keys;
    counts calls in a Spark accumulator when one is attached."""

    def __init__(self, bodies: dict[str, str], failing: set[str], calls=None) -> None:
        self.bodies = bodies
        self.failing = failing
        self.calls = calls

    def __call__(self, key: str) -> str:
        if self.calls is not None:
            self.calls.add(1)
        if key in self.failing or key not in self.bodies:
            raise OSError(f"HTTP 404 for monument {key}")
        return self.bodies[key]


class PageFetcher:
    """Stub Omeka items endpoint: serves the corpus pages in order, then
    empty bodies. Runs on the driver."""

    def __init__(self, pages: list[str]) -> None:
        self.pages = pages
        self.bytes_in = 0
        self.served = 0

    def __call__(self, page: int) -> str:
        body = self.pages[page - 1] if page <= len(self.pages) else ""
        self.served += bool(body)
        self.bytes_in += len(body.encode())
        return body
