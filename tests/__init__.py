import os

# FIXTURES.md §2 aoi_fixture: a committed stand-in for the reference's
# Luxembourg outline, which is not part of this repository
AOI_FIXTURE_WKT = os.path.join(os.path.dirname(__file__), "data", "aoi_fixture.wkt")
