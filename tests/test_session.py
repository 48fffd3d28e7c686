"""Session defaults from session.get_spark."""


def test_local_session_uses_4mb_pages(spark):
    # the fixture session is local[N], so get_spark caps Tungsten pages
    # at 4 MB instead of sizing them from the heap
    memory_manager = spark.sparkContext._jsc.sc().env().memoryManager()
    assert memory_manager.pageSizeBytes() == 4 * 1024 * 1024
